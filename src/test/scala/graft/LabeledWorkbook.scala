package graft

import java.nio.file.{Files, Path}

/** An in-repo stand-in for the reference's labeled workbook (canonical
  * title → ID over Products, Ingredients and Certifications sheets,
  * title in column A and ID in column B under a header row). The titles
  * are real-world food catalogue names, and a tail of them is written
  * the way submissions write them, so `normalizeOffering` rewrites it:
  * apostrophes, brackets and quotes it strips, abbreviations its
  * variant table expands, and commas a member list splits on. */
object LabeledWorkbook {

  val Products: Seq[String] = Seq(
    "Organic Rolled Oats", "Almond Milk Unsweetened", "Baker's Dozen Bagels",
    "Greek Yogurt (Plain)", "Extra Virgin Olive Oil", "Sea Salt Caramel Bites",
    "Whole Grain Bread", "Gluten-Free Penne Pasta", "Omega 3 Fish Oil",
    "Vit C Gummies", "Cold Brew Coffee", "Dark Chocolate 70%",
    "Probiotic Kefir", "Monkfruit Sweetener", "Coconut Water",
    "Crunchy Peanut Butter", "Maple Syrup Grade A", "Apple Cider Vinegar",
    "Hot Sauce \"Extra Hot\"", "Matcha Green Tea Powder", "Sourdough Crackers",
    "Honey Roasted Almonds", "Grandma's [Classic] Kimchi", "Vegan Protein Bar",
    "Oat Milk Barista Edition", "Chia Seed Pudding", "Turmeric Latte Mix",
    "Brown Rice Cakes", "Tomato Basil Soup", "Butter, Salted",
    "Jasmine Rice", "Wild Blueberry Jam", "Sparkling Water Lime",
    "Frozen Mango Chunks", "Cashew Cheese Spread", "Buckwheat Pancake Mix")

  val Ingredients: Seq[String] = Seq(
    "Cane Sugar", "Sea Salt", "Guar Gum", "Xanthan Gum", "Citric Acid",
    "Sunflower Lecithin", "Chicory Root Fiber", "Natural Vanilla Flavor",
    "L. acidophilus", "Pea Protein Isolate", "Rolled Oats", "Cocoa Butter")

  val Certifications: Seq[String] = Seq(
    "USDA Organic", "Non-GMO Project Verified", "Certified Gluten-Free",
    "Fair Trade Certified", "Kosher", "Halal", "Certified B Corporation")

  /** `reference` when that workbook exists, else a workbook from
    * [[writeGenerated]] in a fresh temp directory. */
  def referenceOrGenerated(reference: String): String =
    if (new java.io.File(reference).exists()) reference
    else writeGenerated(Files.createTempDirectory("graft-labeled")).toString

  /** Writes a seeded stand-in for the reference's full labeled corpus
    * as `generated.xlsx` under `dir`: sheets Products, Ingredients and
    * Capabilities of `perSheet` titles each, title in column A and UID
    * in column B under a header row. A title is two to four generated
    * words of at least five letters, drawn from its sheet's own
    * vocabulary. Words recur across titles, but no two titles share
    * two words, so a reordered, truncated or one-char-typo'd title
    * still has exactly one title holding all its surviving words. */
  def writeGenerated(dir: Path, seed: Long = 20261017L, perSheet: Int = 400): Path = {
    val rnd = new scala.util.Random(seed)
    val onsets = Seq("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
      "v", "z", "br", "dr", "gr", "pl", "st", "tr")
    val vowels = Seq("a", "e", "i", "o", "u", "ai", "ou")
    val codas = Seq("", "", "n", "r", "l", "s")
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    val used = scala.collection.mutable.Set.empty[String]
    def word(): String = {
      val w = (1 to 2 + rnd.nextInt(2)).map(_ => pick(onsets) + pick(vowels) + pick(codas)).mkString
      // every generated word is penalty-neutral: no dietary term inside
      if (w.length < 5 || used(w) ||
          graft.operators.EntityResolution.DefaultDietaryTerms.exists(w.contains)) word()
      else { used += w; w.capitalize }
    }
    def sheet(name: String, prefix: String) = {
      val vocab = IndexedSeq.fill(perSheet / 3)(word())
      val pairs = scala.collection.mutable.Set.empty[(String, String)]
      val titles = Iterator.continually {
        val n = rnd.nextInt(20) match { case x if x < 5 => 2; case x if x < 14 => 3; case _ => 4 }
        rnd.shuffle(vocab).take(n)
      }.filter { ws =>
        val ps = ws.combinations(2).map(p => (p.min, p.max)).toSeq
        ps.forall(p => !pairs(p)) && { pairs ++= ps; true }
      }.take(perSheet).map(_.mkString(" ")).toSeq
      name -> (Seq("Title", "UID") +: titles.zipWithIndex.map { case (t, i) =>
        Seq(t, f"$prefix-${i + 1}%05d")
      })
    }
    val p = dir.resolve("generated.xlsx")
    Files.write(p, graft.sources.XlsxTestWriter.workbook(Seq(
      sheet("Products", "PRD"), sheet("Ingredients", "ING"),
      sheet("Capabilities", "CAP"))))
    p
  }

  /** Writes the workbook as `labeled.xlsx` under `dir`. */
  def write(dir: Path): Path = {
    def sheet(name: String, prefix: String, titles: Seq[String]) =
      name -> (Seq("Title", "UID") +: titles.zipWithIndex.map { case (t, i) =>
        Seq(t, f"$prefix-${i + 1}%04d")
      })
    val p = dir.resolve("labeled.xlsx")
    Files.write(p, graft.sources.XlsxTestWriter.workbook(Seq(
      sheet("Products", "PRD", Products),
      sheet("Ingredients", "ING", Ingredients),
      sheet("Certifications", "CRT", Certifications))))
    p
  }
}
