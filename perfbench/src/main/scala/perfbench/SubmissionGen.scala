package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded member-submission inputs: a canonical dictionary of product
  * titles, a member CSV whose offering cells draw on it, and the list
  * of members that already exist (for the push plan).
  *
  * Every item belongs to a known class, so the benchmark can check the
  * resolver's answer where it is fixed: `exact` and `casefold` items must
  * resolve to their source title's id at score 100; `reorder`,
  * `deletion` and `garbage` items take the fuzzy phase. */
object SubmissionGen {

  private val Quals = Seq("Roasted", "Smoked", "Dried", "Fresh", "Frozen",
    "Toasted", "Salted", "Sweet", "Spicy", "Crispy", "Golden", "Wild",
    "Aged", "Pickled", "Candied", "Ground", "Whole", "Sliced", "Crushed",
    "Powdered", "Baked", "Steamed", "Cold", "Pressed", "Malted", "Sprouted",
    "Fermented", "Cultured", "Honeyed", "Peppered")
  private val Flavors = Seq("Almond", "Cashew", "Walnut", "Pecan",
    "Hazelnut", "Coconut", "Vanilla", "Cocoa", "Ginger", "Lemon", "Orange",
    "Cherry", "Mango", "Apple", "Pear", "Peach", "Berry", "Banana", "Maple",
    "Cinnamon", "Garlic", "Onion", "Tomato", "Basil", "Oregano", "Sesame",
    "Chili", "Pepper", "Mint", "Lavender", "Matcha", "Turmeric", "Fig",
    "Date", "Plum", "Apricot", "Raisin", "Olive", "Pumpkin", "Carrot")
  private val Bases = Seq("Milk", "Butter", "Flour", "Oil", "Syrup", "Paste",
    "Powder", "Sauce", "Cookie", "Cracker", "Granola", "Bar", "Chips",
    "Juice", "Tea", "Coffee", "Yogurt", "Cheese", "Bread", "Muffin", "Cake",
    "Jam", "Honey", "Vinegar", "Salt", "Sugar", "Spread", "Dressing", "Soup",
    "Broth", "Pasta", "Noodles", "Rice", "Oats", "Cereal", "Crisps", "Bites",
    "Clusters", "Smoothie", "Candy")

  /** The item classes of each member's product and ingredient cells:
    * per member two exact, two case-fold, one reordered, two with a
    * deleted character and one garbage item, so every submission of the
    * same size has the same fuzzy workload. */
  val CellClasses: Seq[(String, Seq[String])] = Seq(
    "product" -> Seq("exact", "casefold", "reorder", "deletion"),
    "ingredient" -> Seq("exact", "casefold", "deletion", "garbage"))

  final case class Item(member: Int, kind: String, text: String,
      cls: String, sourceId: String)

  final case class Inputs(
      csv: Path, dict: Path, existing: Path,
      members: Int, invalidMembers: Int,
      existingMembers: Int, items: Seq[Item]) {
    def validMembers: Int = members - invalidMembers
  }

  /** Writes the three input files into `dir` and returns what was
    * planted. Same seed, same bytes. */
  def write(dir: Path, seed: Long, members: Int, dictSize: Int): Inputs = {
    val rnd = new Random(seed)
    Files.createDirectories(dir)
    val titles = {
      val two = for (f <- Flavors; b <- Bases) yield s"$f $b"
      val three = for (q <- Quals; f <- Flavors; b <- Bases) yield s"$q $f $b"
      rnd.shuffle(two ++ three).take(dictSize).toIndexedSeq
    }
    val ids = titles.indices.map(i => f"T$i%05d")

    def garbage(): String = {
      val cons = "bcdfghjklmnpqrstvwxz"
      Seq.fill(2 + rnd.nextInt(2)) {
        val n = 4 + rnd.nextInt(4)
        val w = Seq.fill(n)(cons(rnd.nextInt(cons.length))).mkString
        s"${w.head.toUpper}${w.tail}"
      }.mkString(" ")
    }
    def deletion(t: String): String = {
      val words = t.split(' ')
      val long = words.indices.filter(i => words(i).length >= 5)
      val pool = if (long.nonEmpty) long else words.indices
      val wi = pool(rnd.nextInt(pool.size))
      val w = words(wi)
      val ci = 1 + rnd.nextInt(w.length - 1)
      words.updated(wi, w.substring(0, ci) + w.substring(ci + 1)).mkString(" ")
    }
    def variant(cls: String, t: String): String = cls match {
      case "exact" => t
      case "casefold" => if (rnd.nextBoolean()) t.toUpperCase else t.toLowerCase
      case "reorder" => t.split(' ').reverse.mkString(" ")
      case "deletion" => deletion(t)
      case "garbage" => garbage()
    }

    // one member in twenty, and at least one, fails validation
    val invalid = math.max(1, members / 20)
    val invalidSet = rnd.shuffle((0 until members).toList).take(invalid).toSet
    val items = Seq.newBuilder[Item]
    val rows = (0 until members).map { m =>
      val cells = CellClasses.map { case (kind, classes) =>
        val seenTitles = scala.collection.mutable.Set[Int]()
        val seenTexts = scala.collection.mutable.Set[String]()
        val picked = classes.map { cls =>
          // one item per title and per lowercase form within a cell, so
          // the explode step keeps every planted item
          Iterator.continually {
            val ti = rnd.nextInt(titles.size)
            (ti, variant(cls, titles(ti)))
          }.collectFirst { case (ti, text) if !seenTitles(ti) && !seenTexts(text.toLowerCase) =>
            seenTitles += ti
            seenTexts += text.toLowerCase
            Item(m, kind, text, cls, ids(ti))
          }.get
        }
        rnd.shuffle(picked)
      }
      val name = if (invalidSet(m)) f"Member<$m%05d>" else f"Member $m%05d Foods"
      if (!invalidSet(m)) cells.foreach(items ++= _)
      Seq(name, "USA", f"m$m%05d@example.com", s"${m + 1} Main Street",
        "Springfield", cells(0).map(_.text).mkString("; "),
        cells(1).map(_.text).mkString("; "), "We make good food")
    }

    def csvLine(cells: Seq[String]): String =
      cells.map(c => "\"" + c.replace("\"", "\"\"") + "\"").mkString(",")
    val csv = dir.resolve("members.csv")
    Files.write(csv, (csvLine(Seq("Company Name", "Country", "E-Mail",
      "Street Address", "City", "Products Offered", "Ingredient List",
      "About")) +: rows.map(csvLine)).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    val dict = dir.resolve("dictionary.csv")
    Files.write(dict, ("title,ext_id" +: titles.indices.map(i =>
      csvLine(Seq(titles(i), ids(i))))).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    // every other valid member is already known to the directory
    val existingNames = (0 until members).filterNot(invalidSet)
      .filter(_ % 2 == 0).map(m => f"Member $m%05d Foods")
    val existing = dir.resolve("existing.csv")
    Files.write(existing, ("businessName" +: existingNames.map(n =>
      csvLine(Seq(n)))).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))

    Inputs(csv, dict, existing, members, invalid,
      existingNames.size, items.result())
  }
}
