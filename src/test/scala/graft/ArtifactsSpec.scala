package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bucketed, Graph, Tables}

/** The stored-artifact staleness contract (round-9 verdict item 1): every
  * per-JVM cache — the F3/F5 ANN indexes, the B57 edge table, the E7/E8
  * dedup artifacts, B22's bucketed facts, the events era probe —
  * keys on a METADATA FINGERPRINT of its input dataset, so overwriting the
  * data in place forces a rebuild instead of serving answers derived from
  * the old corpus.
  */
class ArtifactsSpec extends SparkSpec {

  private def copyFile(src: String, dst: String): Unit = {
    Files.createDirectories(Paths.get(dst).getParent)
    Files.copy(Paths.get(src), Paths.get(dst), StandardCopyOption.REPLACE_EXISTING)
  }

  test("fingerprint is stable on unchanged data and moves on overwrite") {
    val dir = tempDir("graft-fp").toString
    copyFile(s"$sf/events.parquet", s"$dir/events.parquet")
    val f1 = Artifacts.fingerprint(spark, s"$dir/events.parquet")
    val f2 = Artifacts.fingerprint(spark, s"$dir/events.parquet")
    assert(f1 == f2)
    // overwrite with different content (length changes → fingerprint must)
    Tables.events(spark, sf).limit(10).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val f3 = Artifacts.fingerprint(spark, s"$dir/events.parquet")
    assert(f3 != f1)
    // absent path fingerprints distinctly rather than throwing
    val fAbsent = Artifacts.fingerprint(spark, s"$dir/nope.parquet")
    assert(fAbsent != f1)
  }

  test("fingerprint catches a same-length same-mtime rewrite via the tail hint") {
    // the (length, mtime) metadata pair cannot see this rewrite: identical
    // byte count, mtime forced back to the original tick. Only the local-FS
    // content hint (last 16 bytes) distinguishes the generations.
    val dir = tempDir("graft-fp-tail").toString
    val f = Paths.get(dir, "data.bin")
    Files.write(f, Array.fill[Byte](64)('a'))
    val t0 = Files.getLastModifiedTime(f)
    val f1 = Artifacts.fingerprint(spark, dir)
    Files.write(f, Array.fill[Byte](64)('b'))
    Files.setLastModifiedTime(f, t0)
    assert(Files.getLastModifiedTime(f) == t0 && Files.size(f) == 64)
    val f2 = Artifacts.fingerprint(spark, dir)
    assert(f2 != f1, "same-length same-mtime rewrite went undetected")
  }

  test("superseded artifact generations survive rebuilds until swept on demand") {
    // per-generation discipline: a rebuild under a moved fingerprint must
    // NOT delete the old generation's dir (lazily-held readers), but a
    // long-lived session can reclaim superseded generations deliberately.
    val dataDir = tempDir("graft-sweep-data").toString
    val idxBase = tempDir("graft-sweep-idx").toString
    copyFile(s"$sf/embeddings.parquet", s"$dataDir/embeddings.parquet")
    withConf("graft.int8.dir" -> idxBase) {
      def idxDirs = new java.io.File(idxBase).listFiles().map(_.getName).toSet
      assert(graft.similarity.Ann.quantizedTopK(spark, dataDir).count() > 0)
      val gen1 = idxDirs
      assert(gen1.nonEmpty)
      // regenerate the source in place → fingerprint moves → gen2 built,
      // gen1 left on disk
      Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
      assert(graft.similarity.Ann.quantizedTopK(spark, dataDir).count() > 0)
      assert(gen1.subsetOf(idxDirs) && idxDirs.size > gen1.size,
        s"superseded generation deleted eagerly: gen1=$gen1 now=$idxDirs")
      // the sweep reclaims EXACTLY the superseded generations
      val dropped = Artifacts.sweepStale(spark)
      assert(dropped.nonEmpty)
      assert((idxDirs & gen1).isEmpty, s"gen1 survived the sweep: $idxDirs")
      // live generation untouched and still serving
      assert(graft.similarity.Ann.quantizedTopK(spark, dataDir).count() > 0)
      // idempotent: nothing left to sweep
      assert(Artifacts.sweepStale(spark).isEmpty)
    }
  }

  /** A fresh dataset dir holding one small input file, `data.bin`. */
  private def tinyDataset(prefix: String): String = {
    val d = tempDir(prefix).toString
    Files.write(Paths.get(d, "data.bin"), Array.fill[Byte](16)('x'))
    d
  }

  /** Runs `body` with the scratch root pointed at a fresh temp dir, and
    * deletes that root afterwards. */
  private def withScratch[T](body: String => T): T = {
    val root = tempDir("graft-scratch-spec").toString
    try withConf("graft.scratch.dir" -> root)(body(root))
    finally new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }

  test("sweepStale never deletes a live generation after a fingerprint cycle") {
    // deterministic slugs mean a fingerprint cycle A→B→A rebuilds into the
    // SAME dir that was recorded as superseded during the A→B transition;
    // installing the new entry must take that dir back out of the sweep set
    withScratch { _ =>
      val d = tinyDataset("graft-fp-cycle")
      def build(dir: String): Unit = assert(Files.isDirectory(Paths.get(dir)))
      val locA1 = Artifacts.storedFp(spark, "cycle_spec", d, "A")(build)
      val locB = Artifacts.storedFp(spark, "cycle_spec", d, "B")(build)
      val locA2 = Artifacts.storedFp(spark, "cycle_spec", d, "A")(build)
      assert(locA1 == locA2 && locA1 != locB)
      Artifacts.sweepStale(spark)
      assert(Files.exists(Paths.get(locA2)),
        "sweep deleted the LIVE generation after an A→B→A fingerprint cycle")
      assert(!Files.exists(Paths.get(locB)), "superseded generation survived the sweep")
    }
  }

  test("concurrent first calls on one stored key build exactly once") {
    withScratch { _ =>
      val d = tinyDataset("graft-concurrent")
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val go = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val calls = (1 to 4).map { _ =>
          pool.submit(() => {
            go.await()
            Artifacts.stored(spark, "concurrent_spec", d, Seq("data.bin")) { dir =>
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build open while the others arrive
              Files.write(Paths.get(dir, "out"), Array[Byte](1))
            }
          })
        }
        go.countDown()
        val locs = calls.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)).toSet
        assert(builds.get == 1, s"${builds.get} builds for one key")
        assert(locs.size == 1 && Files.exists(Paths.get(locs.head, "out")))
      } finally pool.shutdownNow()
    }
  }

  test("a stored build that reads other stored artifacts completes") {
    // a chain of nested builds, each reading the next artifact down inside
    // its own build (the ivfpq → ivf/pq shape). Deeper than a fresh hash
    // map's bin count, so a build run inside `compute` on the one shared
    // map would hit a bin reserved by an enclosing build.
    withScratch { _ =>
      val d = tinyDataset("graft-nested")
      def level(i: Int): String =
        Artifacts.stored(spark, s"nested_spec_$i", d, Seq("data.bin")) { dir =>
          val depth = if (i == 0) 0 else
            new String(Files.readAllBytes(Paths.get(level(i - 1), "depth"))).toInt + 1
          Files.write(Paths.get(dir, "depth"), depth.toString.getBytes)
        }
      val top = level(24)
      assert(new String(Files.readAllBytes(Paths.get(top, "depth"))) == "24")
      assert(level(24) == top, "a served nested artifact was rebuilt")
    }
  }

  test("a cachedValue build that reads the same map completes") {
    // each value is built from the next key down on the SAME map; a build
    // run inside `compute` would hit a bin an enclosing build reserved
    val m = new java.util.concurrent.ConcurrentHashMap[String, (String, Integer)]()
    def level(i: Int): Int =
      Artifacts.cachedValue(m, s"nested_$i", "fp") {
        Integer.valueOf(if (i == 0) 0 else level(i - 1) + 1)
      }
    assert(level(40) == 40)
    assert(m.size == 41)
    // a moved token replaces the entry instead of adding one beside it
    assert(Artifacts.cachedValue(m, "nested_0", "fp2")(Integer.valueOf(7)) == 7)
    assert(m.size == 41 && level(0) == 0)
  }

  test("repointing graft.ivf.dir mid-session rebuilds into the new root") {
    val d = tempDir("graft-repoint").toString
    copyFile(s"$sf/embeddings.parquet", s"$d/embeddings.parquet")
    val r1 = tempDir("graft-ivf-r1").toString
    val r2 = tempDir("graft-ivf-r2").toString
    withConf("graft.ivf.dir" -> r1) {
      val a = graft.similarity.Ann.ivfIndexDir(spark, d)
      assert(a.startsWith(r1 + "/"), s"index at $a, not under $r1")
      spark.conf.set("graft.ivf.dir", r2)
      val b = graft.similarity.Ann.ivfIndexDir(spark, d)
      assert(b.startsWith(r2 + "/"), s"index at $b, not under $r2")
      assert(Files.exists(Paths.get(b, "centroids")) && Files.exists(Paths.get(b, "corpus")))
      // the first root's generation is still served when pointed back
      spark.conf.set("graft.ivf.dir", r1)
      assert(graft.similarity.Ann.ivfIndexDir(spark, d) == a)
    }
  }

  test("two names with equal dataset and params never share a directory") {
    withScratch { _ =>
      val d = tinyDataset("graft-names")
      def at(name: String, param: Int): String =
        Artifacts.stored(spark, name, d, Seq("data.bin"), param) { dir =>
          Files.write(Paths.get(dir, "name"), name.getBytes)
        }
      val a = at("twin_a_spec", 7)
      val b = at("twin_b_spec", 7)
      assert(a != b)
      assert(new String(Files.readAllBytes(Paths.get(a, "name"))) == "twin_a_spec")
      assert(new String(Files.readAllBytes(Paths.get(b, "name"))) == "twin_b_spec")
      // a param that shapes the artifact selects its own directory too
      assert(at("twin_a_spec", 8) != a)
    }
  }

  test("events ts-type and era probes re-run after an in-place overwrite") {
    val dir = tempDir("graft-stale-ev").toString
    copyFile(s"$sf/events.parquet", s"$dir/events.parquet")
    assert(Tables.events(spark, dir).limit(1).count() == 1) // probes pass
    // overwrite IN PLACE with a 1000x-shrunk file: with a path-only cache
    // the recorded era pass would mask the corruption; the fingerprint key
    // must re-check and crash
    Tables.events(spark, sf)
      .select(col("event_id"),
        timestamp_micros(expr("unix_micros(ts) DIV 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("era check failed"))
  }

  test("B57 edge artifact rebuilds when lineitem is regenerated in place") {
    val dir = tempDir("graft-stale-gr").toString
    copyFile(s"$sf/lineitem.parquet", s"$dir/lineitem.parquet")
    val n1 = Graph.pageRank(spark, dir).count()
    assert(n1 > 0)
    // regenerate with a disjoint slice: half the orders → different graph
    Tables.lineitem(spark, sf).filter(col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val n2 = Graph.pageRank(spark, dir).count()
    assert(n2 != n1, "stale co-purchase edge artifact served after overwrite")
  }

  test("F5 int8 index rebuilds when embeddings are regenerated in place") {
    val dir = tempDir("graft-stale-i8").toString
    copyFile(s"$sf/embeddings.parquet", s"$dir/embeddings.parquet")
    val n1 = graft.similarity.Ann.quantizedTopK(spark, dir).count()
    assert(n1 > 0)
    // shift every vec_id past the query filter: a rebuilt index yields an
    // empty query set; a stale one would keep answering with the old ids
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val n2 = graft.similarity.Ann.quantizedTopK(spark, dir).count()
    assert(n2 == 0, s"stale int8 index served after overwrite ($n2 rows)")
  }

  /** A B22 query over `dir`: the (name, location) of each table it scans,
    * and its answer. */
  private def bucketed(dir: String): (Set[(String, java.net.URI)], Set[org.apache.spark.sql.Row]) = {
    val df = Bucketed.bucketedJoin(spark, dir)
    (servedTables(df).map(t => t.identifier.table -> t.location).toSet, df.collect().toSet)
  }

  test("B22 bucketed facts rebuild when the source tables change in place") {
    withScratch { _ =>
      val dir = tempDir("graft-stale-bkt").toString
      copyFile(s"$sf/lineitem.parquet", s"$dir/lineitem.parquet")
      copyFile(s"$sf/orders.parquet", s"$dir/orders.parquet")
      val r1 = Bucketed.bucketedJoin(spark, dir).agg(sum(col("n"))).head.getLong(0)
      Tables.lineitem(spark, sf).filter(col("l_orderkey") % 2 === 0)
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      val r2 = Bucketed.bucketedJoin(spark, dir).agg(sum(col("n"))).head.getLong(0)
      assert(r2 < r1, "stale bucketed fact tables served after overwrite")
    }
  }

  test("B22 bucketed facts rebuild into the first generation after an A→B→A cycle") {
    withScratch { root =>
      val dir = tempDir("graft-cycle-bkt").toString
      copyFile(s"$sf/lineitem.parquet", s"$dir/lineitem.parquet")
      copyFile(s"$sf/orders.parquet", s"$dir/orders.parquet")
      val orders = Paths.get(dir, "orders.parquet")
      val t0 = Files.getLastModifiedTime(orders)
      val (tablesA, answerA) = bucketed(dir)
      assert(tablesA.size == 2 && tablesA.forall(_._2.getPath.startsWith(root)),
        s"bucketed facts not in the scratch generation: $tablesA")
      // B: orders rewritten in place with half the keys
      Files.delete(orders)
      Tables.orders(spark, sf).filter(col("o_orderkey") % 2 === 0).write.parquet(orders.toString)
      val (tablesB, answerB) = bucketed(dir)
      assert((tablesB.map(_._1) & tablesA.map(_._1)).isEmpty && answerB != answerA)
      // A again: the same bytes and mtime give A's fingerprint back
      new scala.reflect.io.Directory(orders.toFile).deleteRecursively()
      copyFile(s"$sf/orders.parquet", orders.toString)
      Files.setLastModifiedTime(orders, t0)
      val (tablesA2, answerA2) = bucketed(dir)
      assert(tablesA2 == tablesA, s"A rebuilt into $tablesA2, not $tablesA")
      assert(answerA2 == answerA)
    }
  }
}
