package graft

import graft.dedup.Dedup
import graft.operators.{Graph, Signals, TpchMore}
import graft.pipeline.SideInput

/** Every `graft.*` size cap is one [[Gate]]. For each of them: values out
  * of `[min, Int.MaxValue)` and non-integers fail with an error that names
  * the conf, `min` and the default are accepted, and the bounded probe
  * returns the rows at n = cap and None at n = cap + 1, pulling at most
  * cap + 1 rows.
  */
class GateSpec extends SparkSpec {

  /** (gate, conf, default, min): names and defaults are part of the
    * public conf surface, so they are pinned here, not read back. */
  private val gates = Seq(
    (Graph.LocalEdges, "graft.graph.localMaxEdges", 1000000, 0),
    (Graph.BroadcastNodes, "graft.graph.broadcastMaxNodes", 1000000, 0),
    (SideInput.MaxRows, "graft.sideinput.maxRows", 10000000, 0),
    (Dedup.CcLocal, "graft.dedup.ccLocalMaxEdges", 1000000, 0),
    (Dedup.EmbeddingBroadcast, "graft.embedding.broadcastMaxRows", 200000, 1),
    (Dedup.BandBucket, "graft.dedup.maxBandBucket", 1000, 1),
    (Signals.BucketOccupancy, "graft.interval.maxBucketOccupancy", 10000, 1),
    (TpchMore.BasketItems, "graft.basket.maxItems", 1024, 1))

  test("the eight gates keep their conf names, defaults and lower bounds") {
    gates.foreach { case (g, conf, default, min) =>
      assert(g == Gate(conf, default, min))
    }
    assert(gates.map(_._2).distinct.size == 8)
  }

  gates.foreach { case (g, conf, default, min) =>
    test(s"$conf: out-of-range and non-integer values fail naming the conf") {
      val s = spark.newSession()
      Seq((min - 1).toString, Int.MaxValue.toString, Long.MaxValue.toString,
          "abc", "1.5").foreach { v =>
        s.conf.set(conf, v)
        val e = intercept[IllegalArgumentException](g.cap(s))
        assert(e.getMessage.contains(conf), s"$v: ${e.getMessage}")
      }
      s.conf.set(conf, min.toString)
      assert(g.cap(s) == min)
      s.conf.unset(conf)
      assert(g.cap(s) == default)
    }

    test(s"$conf: the bounded probe fits at n = cap and is over at cap + 1") {
      val s = spark.newSession()
      import s.implicits._
      val cap = 3
      s.conf.set(conf, cap.toString)
      assert(g.fits(s, cap) && !g.fits(s, cap + 1))
      assert(g.collect(s.range(0, cap, 1, 1).as[Long]).map(_.toSeq) ==
        Some(0L until cap))
      assert(g.collect(s.range(0, cap + 1, 1, 1).as[Long]).isEmpty)
      // a large input is cut at cap + 1 rows inside its one partition
      val pulled = s.sparkContext.longAccumulator(s"$conf-pulled")
      val big = s.range(0, 100000, 1, 1).as[Long].map { x => pulled.add(1); x }
      assert(g.collect(big).isEmpty)
      assert(pulled.value <= cap + 1, s"${pulled.value} rows pulled")
      assert(Gate.taken.contains(s"$conf:fits") && Gate.taken.contains(s"$conf:over"))
    }
  }
}
