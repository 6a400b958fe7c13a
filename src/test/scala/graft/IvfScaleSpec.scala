package graft

import org.apache.spark.sql.functions._
import graft.similarity.Ann
import graft.operators.Tables

/** The cells ≫ nprobe regime (`graft.ivf.cells` — the C38 bucket-count
  * lesson applied to the IVF index): the gate-scale default (16 cells,
  * nprobe 2) scans 1/8 of the corpus per query, which is NOT the regime
  * IVF exists for. This spec sizes k toward √n-style sizing (64 cells over
  * the 500-vector corpus) on an isolated session and pins that the whole
  * stack — training, artifact layout, routing, probe — follows the conf:
  * the probed fraction collapses, the assignment still reconciles, and the
  * k-versioned artifact locations keep the default-k suites untouched.
  */
class IvfScaleSpec extends SparkSpec {

  test("64-cell index: probe fraction collapses, assignment reconciles, layout is k-versioned") {
    val s2 = spark.newSession()
    s2.conf.set("graft.ivf.cells", "64")
    try {
      val n = Tables.embeddings(s2, sf).count()
      assert(n >= 128, s"corpus too small for the regime: $n")
      // the artifact follows the conf: a fresh k-versioned location, a
      // 64-row centroid table, and an assignment covering the corpus
      val dir = Ann.ivfIndexDir(s2, sf)
      val defaultDir = Ann.ivfIndexDir(spark, sf)
      assert(dir != defaultDir, "k must version the artifact location")
      val cents = s2.read.parquet(s"$dir/centroids")
      assert(cents.count() == 64L, "centroid table must have k rows")
      val perCell = s2.read.parquet(s"$dir/corpus")
        .groupBy(col("cell")).count().collect()
      assert(perCell.map(_.getLong(1)).sum == n, "assignment must cover the corpus")
      // THE regime point: at nprobe=2 of 64 cells a query's candidate set
      // is a small slice of the corpus — strictly below the 1/8 the
      // gate-scale default scans (expected ~2/64; assert a loose 8% so
      // skewed cells can't flake the build)
      val scanned = Ann.ivfCandsAt(s2, sf, 2).count()
      val pairSpace = Ann.NumQueries.toLong * (n - 1)
      assert(scanned.toDouble / pairSpace < 0.08,
        s"probe scanned $scanned of $pairSpace pairs — pruning did not scale with k")
      // the serve still produces ranked neighbors end to end
      val res = Ann.ivfTopK(s2, sf).collect()
      assert(res.nonEmpty)
      assert(res.forall(_.getInt(2) <= Ann.TopK))
      // and the default-k session is untouched by the conf'd build
      assert(spark.read.parquet(s"$defaultDir/centroids").count() == Ann.IvfCells.toLong)
    } finally s2.conf.unset("graft.ivf.cells")
  }
}
