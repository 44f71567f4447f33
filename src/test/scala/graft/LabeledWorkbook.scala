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
