package graft.sources.fits

import graft.SparkTestBase

/** Mixed directory of a populated and an empty-HDU file (reference
  * packageTest.scala:178-231 semantics): PERMISSIVE reads what exists,
  * FAILFAST surfaces the inconsistency.
  */
class FitsEmptyMixSpec extends SparkTestBase {

  private val dirIm = s"${RefFixtures.root}/dirIm"

  test("PERMISSIVE: empty-HDU file is skipped, image rows survive") {
    val df = spark.read.format("fits").option("hdu", 2).load(dirIm)
    assert(df.count() == 155L)
  }

  test("FAILFAST: schema mismatch from the empty file throws") {
    val e = intercept[Exception] {
      spark.read.format("fits").option("hdu", 2)
        .option("mode", "FAILFAST").load(dirIm).count()
    }
    assert(e.getMessage.contains("differs") || e.getMessage.contains("HDU"))
  }

  test("reading only empty HDUs yields an empty frame") {
    val df = spark.read.format("fits").option("hdu", 0)
      .load(s"$dirIm/1_i_am_empty.fits")
    assert(df.count() == 0L)
  }
}
