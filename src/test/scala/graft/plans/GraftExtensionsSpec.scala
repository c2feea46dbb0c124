package graft.plans

import graft.SparkSpec

/** The SQL extension surface: graft functions must be callable from
  * spark.sql on the shared session, which installs the extensions.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("graft_dot and graft_norm2 are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_dot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d,
        |       graft_norm2(array(3L, 4L)) AS n""".stripMargin).collect()(0)
    assert(r.getLong(0) == 32L) // 4 + 10 + 18
    assert(r.getLong(1) == 25L) // 9 + 16
  }

  test("graft_kminv aggregate is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_kminv(v, 2) FROM VALUES (3L), (1L), (2L), (1L) t(v)")
      .collect()(0)
    assert(r.getSeq[Long](0) == Seq(1L, 2L))
  }

  test("null input yields null, mismatched lengths raise") {
    val r = spark.sql(
      "SELECT graft_dot(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS d1")
      .collect()(0)
    assert(r.isNullAt(0))
    val e = intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1L, 2L), array(10L)) AS d2").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("vector lengths differ"))))
  }
}
