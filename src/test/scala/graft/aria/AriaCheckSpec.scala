package graft.aria

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck property suite (SURVEY.md §5.3): randomized workloads against
  * a plain-Scala reference simulator of the CUDA pipeline — the
  * serializability/determinism oracle. Runs under sbt's native ScalaCheck
  * framework (scalatest-plus bridge isn't in the offline cache).
  */
object AriaCheckSpec extends Properties("AriaEngine") {
  import TxnGen.Op

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark: SparkSession = graft.GraftSession(4)

  private val keys = (1L to 25L).toSeq // keys 26..30 missing -> O14 skip path

  private val genOps: Gen[List[Op]] = for {
    nTxns <- Gen.choose(1, 12)
    perTxn <- Gen.sequence[List[List[Op]], List[Op]](
      (1 to nTxns).toList.map { tid =>
        for {
          nOps <- Gen.choose(0, 6)
          ks <- Gen.listOfN(nOps, Gen.choose(1L, 30L))
          us <- Gen.listOfN(nOps, Gen.prob(0.4))
        } yield ks.zip(us).zipWithIndex.map { case ((k, u), i) =>
          Op(tid.toLong, i, k, u)
        }
      })
  } yield perTxn.flatten

  /** Plain-Scala reference simulator (reorder policy). */
  private def simulate(ops: List[Op]): Map[Long, (Long, Int)] = {
    var remaining = ops.groupBy(_.tid)
    var epoch = 1
    var written = Map.empty[Long, (Long, Int)]
    while (remaining.nonEmpty && epoch < 50) {
      val live = remaining.values.flatten.filter(o => keys.contains(o.k)).toSeq
      val rts = live.groupBy(_.k).map { case (k, os) => k -> os.map(_.tid).min }
      val wts = live.filter(_.isUpdate).groupBy(_.k)
        .map { case (k, os) => k -> os.map(_.tid).min }
      val committed = remaining.keySet.filter { tid =>
        val os = remaining(tid).filter(o => keys.contains(o.k))
        val raw = os.exists(o => wts.get(o.k).exists(_ < tid))
        val war = os.exists(o => o.isUpdate && rts.get(o.k).exists(_ < tid))
        val waw = os.exists(o => o.isUpdate && wts.get(o.k).exists(_ < tid))
        !waw && (!raw || !war)
      }
      for {
        (k, os) <- live.filter(o => o.isUpdate && committed(o.tid)).groupBy(_.k)
      } written += k -> ((os.map(_.tid).min, epoch))
      remaining = remaining.filter { case (t, _) => !committed(t) }
      epoch += 1
    }
    written
  }

  property("final state and commit totals match the reference simulator") =
    Prop.forAll(genOps) { ops =>
      if (ops.isEmpty) Prop.passed
      else {
        import spark.implicits._
        val base = keys.map(k => (k, s"orig$k")).toDF("k", "f0")
        val newValue: (org.apache.spark.sql.Column,
          org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
          (tid, ep) =>
            concat(lit("v"), tid.cast("string"), lit("e"), ep.cast("string"))
        val (finalTable, history) = AriaEngine.run(
          spark, base, ops.toDF(), reorder = true, Seq("f0"), newValue)
        val got = finalTable.collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val written = simulate(ops)
        val want = keys.map { k =>
          k -> written.get(k).map { case (t, e) => s"v${t}e$e" }
            .getOrElse(s"orig$k")
        }.toMap
        val allCommit =
          history.map(_._2).sum == ops.map(_.tid).distinct.size
        Prop(got == want && allCommit) :|
          s"got=$got want=$want history=$history"
      }
    }
}
