package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** The ScalingBench probe table and its replicated relational corpus. */
class ScalingBenchSpec extends SparkSpec {

  test("probe names are unique") {
    val names = ScalingBench.probes.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("every SparkEntry probe names a registered query") {
    val entries = ScalingBench.probes.flatMap(_.entry)
    assert(entries.nonEmpty)
    assert(entries.filterNot(SparkEntry.queries.contains).isEmpty)
  }

  test("a filter runs named probes and groups; an unknown token is rejected") {
    val default = ScalingBench.select(Nil).toOption.get
    assert(default.map(_.group).distinct == Seq(ScalingBench.Default))
    assert(default.head.name == "aria_reference_scenario")
    val s4 = ScalingBench.select(Seq("s4_ops")).toOption.get
    assert(s4.size == 27 && s4.forall(_.group == "s4_ops"))
    assert(ScalingBench.select(Seq("s4_ops/sim_dbscan")).toOption.get
      .map(_.name) == Seq("s4_ops/sim_dbscan"))
    val err = ScalingBench.select(Seq("s4_ops", "no_such_probe")).left.toOption
    assert(err.exists(e => e.contains("no_such_probe") && e.contains("s4_ops")
      && e.contains("aria_reference_scenario")))
  }

  test("scaled-corpus caches are keyed by the base directory") {
    val a = ScalingBench.cacheRoot(sf("sf0.01"))
    assert(a != ScalingBench.cacheRoot(sf("sf0.1")))
    assert(a == ScalingBench.cacheRoot(sf("sf0.01") + "/"))
    assert(a.contains("sf0.01"))
  }

  test("scan_pruned_zorder probes a doc_id that exists at every scale") {
    val root = Files.createTempDirectory("zorder").toString
    try {
      val env = new ScalingBench.Env(spark, sf("sf0.001"), 2, root)
      val probe = ScalingBench.probes.find(_.name == "scan_pruned_zorder").get
      for (pt <- probe.points(env)) {
        val rows = pt.frame().count()
        val opened = pt.post(0.0, rows).toMap.apply("files_opened_id")
        assert(rows >= 1 && opened.asInstanceOf[Int] >= 1,
          s"${pt.scale}: rows $rows, files_opened_id $opened")
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }

  test("relational replication x3: rows x3, keys unique, edges resolve") {
    val base = sf("sf0.001")
    val root = Files.createTempDirectory("relcorpus").toString
    try {
      val out = new ScalingBench.Env(spark, base, 3, root).rel
      def t(dir: String, name: String) = spark.read.parquet(s"$dir/$name.parquet")
      for (name <- Seq("nation", "customer", "orders", "lineitem"))
        assert(t(out, name).count() == 3 * t(base, name).count(), name)
      // each keyspace's owning column
      for ((name, key) <- Seq("nation" -> "n_nationkey",
          "customer" -> "c_custkey", "orders" -> "o_orderkey"))
        assert(t(out, name).select(key).distinct().count() ==
          t(out, name).count(), key)
      assert(t(out, "part").count() == t(base, "part").count())
      for ((child, fk, parent, pk) <- Seq(
          ("orders", "o_custkey", "customer", "c_custkey"),
          ("lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("customer", "c_nationkey", "nation", "n_nationkey")))
        assert(t(out, child).join(t(out, parent),
          col(fk) === col(pk), "left_anti").count() == 0, s"$child.$fk")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(root))
    }
  }
}
