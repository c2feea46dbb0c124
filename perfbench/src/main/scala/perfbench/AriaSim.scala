package perfbench

import graft.aria.TxnGen

/** Collections-only model of the Aria epoch loop, the benchmark's check on
  * `AriaEngine.run`. It shares no code with the engine's DataFrame
  * pipeline: reservations are per-key minima over plain Scala maps, the
  * commit predicate is the reference's RAW/WAR/WAW rule, and aborted txns
  * retry next epoch with their original tids.
  */
object AriaSim {
  final case class Op(tid: Long, k: Long, isUpdate: Boolean)

  /** (epoch, committed, aborted) per epoch, as `AriaEngine.run` reports. */
  type History = Seq[(Int, Long, Long)]

  /** The ops `TxnGen.ops(spark, nTxns, cfg)` generates, regenerated here
    * from the same per-txn seeds (`cfg.seed + tid`). */
  def ops(nTxns: Long, cfg: TxnGen.Config): Seq[Op] =
    (1L to nTxns).flatMap { tid =>
      val rng = new scala.util.Random(cfg.seed + tid)
      val nOps = rng.nextInt(cfg.maxOps + 1)
      (0 until nOps).map { _ =>
        Op(tid, 1L + rng.nextInt(cfg.keysMax.toInt).toLong,
          rng.nextDouble() < cfg.wrRate)
      }
    }

  /** Runs `allOps` to empty against a table holding exactly the keys for
    * which `hasKey` is true. Returns the history and, per written key, its
    * last writer as (tid, epoch). Ops on missing keys are skipped; a txn
    * with no live op commits in epoch 1.
    */
  def run(allOps: Seq[Op], hasKey: Long => Boolean, reorder: Boolean,
      maxEpochs: Int = 100): (History, Map[Long, (Long, Int)]) = {
    val byTid = allOps.groupBy(_.tid).map { case (t, os) =>
      t -> os.filter(o => hasKey(o.k))
    }
    var remaining = byTid.keySet
    var epoch = 1
    var written = Map.empty[Long, (Long, Int)]
    val history = Seq.newBuilder[(Int, Long, Long)]
    while (remaining.nonEmpty && epoch <= maxEpochs) {
      val live = remaining.iterator.flatMap(byTid).toSeq
      val rts = live.groupMapReduce(_.k)(_.tid)(_ min _)
      val wts = live.filter(_.isUpdate).groupMapReduce(_.k)(_.tid)(_ min _)
      val committed = remaining.filter { tid =>
        val os = byTid(tid)
        val raw = os.exists(o => wts.get(o.k).exists(_ < tid))
        val war = os.exists(o => o.isUpdate && rts.get(o.k).exists(_ < tid))
        val waw = os.exists(o => o.isUpdate && wts.get(o.k).exists(_ < tid))
        if (reorder) !waw && (!raw || !war) else !waw && !raw
      }
      live.filter(o => o.isUpdate && committed(o.tid))
        .groupMapReduce(_.k)(_.tid)(_ min _)
        .foreach { case (k, t) => written += k -> ((t, epoch)) }
      history += ((epoch, committed.size.toLong,
        (remaining.size - committed.size).toLong))
      remaining --= committed
      epoch += 1
    }
    (history.result(), written)
  }
}
