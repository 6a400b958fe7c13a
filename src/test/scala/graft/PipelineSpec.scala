package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline._
import graft.pipeline.Pipe._

/** DSL parity with the reference runner's test surface
  * (reference: tests/pyspark_runner_test.py).
  */
class PipelineSpec extends SparkSpec {
  import SparkSpecBase.spark.implicits._

  test("create + map (test_create / test_map)") {
    val p = Pipe.create(spark, Seq(Seq(1), Seq(3, 4))).map(_.sum)
    assert(p.collect().sorted == Seq(1, 7))
  }

  test("flatMap (test_flatmap)") {
    val p = Pipe.create(spark, Seq(Seq(1), Seq(3, 4))).flatMap(x => Seq(x.sum))
    assert(p.collect().sorted == Seq(1, 7))
  }

  test("multi-branch DAG with cached shared node (test_multiple_paths)") {
    // no explicit cache: the shared node's three consumers auto-persist it
    val evals = spark.sparkContext.longAccumulator("multiple-paths-evals")
    CacheScope.run {
      val shared = Pipe.create(spark, Seq(1)).map { x => evals.add(1); x }
      val b1 = shared.map(_ / 5.0)
      val b2 = shared.map(_ + 1).map(_ * 2).map(_ - 1)
      val b3 = shared.map(_ + 2)
      val b4 = b2.map(_ * 100)
      assert(b1.collect() == Seq(0.2))
      assert(b2.collect() == Seq(3))
      assert(b3.collect() == Seq(3))
      assert(b4.collect() == Seq(300))
    }
    assert(evals.value == 1, s"shared node computed ${evals.value} times, want once")
  }

  test("multi-consumer node is auto-cached: shared branch computes once") {
    // the reference persists any node with >1 consumer without user action
    // (eval_context.py:57-61); the DSL counts consumers as the graph is built
    val evals = spark.sparkContext.longAccumulator("shared-branch-evals")
    val shared = Pipe.create(spark, Seq(1, 2, 3, 4))
      .map { x => evals.add(1); x * 10 }   // NO explicit .cache()
    val b1 = shared.map(_ + 1)
    val b2 = shared.map(_ + 2)
    assert(b1.collect().sorted == Seq(11, 21, 31, 41))
    assert(b2.collect().sorted == Seq(12, 22, 32, 42))
    assert(evals.value == 4, s"shared branch evaluated ${evals.value} times, want 4 (computed once)")
    // built outside any CacheScope.run: the persist is untracked, so its
    // caller releases it
    shared.ds.unpersist(blocking = true)
  }

  test("CacheScope.run releases auto-persisted shared branches after the pipeline") {
    // the CacheScope discipline applied to the DSL (round-9 verdict item 5):
    // inside the run scope the shared branch still computes once; after it,
    // no persistent-RDD entries survive the completed DSL run
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val evals = spark.sparkContext.longAccumulator("run-scope-evals")
    CacheScope.run {
      val shared = Pipe.create(spark, Seq(1, 2, 3, 4))
        .map { x => evals.add(1); x * 10 }
      val b1 = shared.map(_ + 1)
      val b2 = shared.map(_ + 2)
      assert(b1.collect().sorted == Seq(11, 21, 31, 41))
      assert(b2.collect().sorted == Seq(12, 22, 32, 42))
    }
    assert(evals.value == 4,
      s"shared branch evaluated ${evals.value} times inside run, want 4")
    // the scope's release is blocking: nothing is left once run returns
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"auto-persists survived CacheScope.run: $leaked")
  }

  test("late second consumer after CacheScope.run exits persists untracked") {
    // a Pipe BUILT inside run() whose second consumer only arrives after the
    // block returns is persisted like Spark's own persist: the closed scope
    // does not release it, and its caller unpersists it
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val evals = spark.sparkContext.longAccumulator("escaped-evals")
    val escaped = CacheScope.run {
      Pipe.create(spark, Seq(1, 2, 3)).map { x => evals.add(1); x * 10 }
    }
    // both consumers arrive after the scope closed → persist-once triggers now
    val b1 = escaped.map(_ + 1)
    val b2 = escaped.map(_ + 2)
    assert(b1.collect().sorted == Seq(11, 21, 31))
    assert(b2.collect().sorted == Seq(12, 22, 32))
    assert(evals.value == 3, s"escaped pipe evaluated ${evals.value} elements, want 3 (once)")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "escaped pipe's shared branch was not persisted at its second consumer")
    escaped.ds.unpersist(blocking = true)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"ds.unpersist left the escaped persist: $leaked")
  }

  test("groupByKey (test_create_map_and_groupby)") {
    val p = Pipe.create(spark, Seq(1)).map(x => (x * 2, x)).groupByKey
    assert(p.collect() == Seq((2, Seq(1))))
  }

  test("combinePerKey uses CombineFn contract (test_combine)") {
    val sumFn = new CombineFn[Int, Int, Int] {
      def createAccumulator() = 0
      def addInput(a: Int, i: Int) = a + i
      def mergeAccumulators(a: Int, b: Int) = a + b
      def extractOutput(a: Int) = a
    }
    val p = Pipe.create(spark, Seq(1, 2, 3, 4)).map(x => ("all", x)).combinePerKey(sumFn)
    assert(p.collect() == Seq(("all", 10)))
    val global = Pipe.create(spark, Seq(1, 2, 3, 4)).combineGlobally(sumFn)
    assert(global == 10)
  }

  test("parDo runs the full DoFn lifecycle per partition") {
    val fn = new DoFn[Int, String] {
      @transient private var bundle: List[String] = _
      override def setup(): Unit = { bundle = Nil }
      override def process(e: Int): Iterator[String] = {
        bundle ::= s"elem:$e"
        Iterator.single(s"out:$e")
      }
      override def finishBundle(): Iterator[String] =
        Iterator.single(s"bundle_size:${bundle.size}")
    }
    val got = Pipe(spark.createDataset(Seq(1, 2, 3, 4)).repartition(2)).parDo(fn).collect()
    assert(got.count(_.startsWith("out:")) == 4)
    // one finishBundle emission per partition, counting that partition's elems
    val sizes = got.filter(_.startsWith("bundle_size:")).map(_.split(":")(1).toInt)
    assert(sizes.length == 2 && sizes.sum == 4)
  }

  test("flatten unions pipes (test_flatten semantics)") {
    val a = Pipe.create(spark, Seq(1, 2))
    val b = Pipe.create(spark, Seq(3))
    val c = Pipe.create(spark, Seq(4, 5))
    assert(a.flatten(b, c).collect().sorted == Seq(1, 2, 3, 4, 5))
  }

  test("side inputs: singleton, list, dict, multimap (test_dict_side_input)") {
    val multimap = Pipe.create(spark, Seq(("key1", "value1a"), ("key1", "value1b"), ("key2", "value2a")))
    val si = SideInput.asMultimap(multimap)
    val got = Pipe.create(spark, Seq("key1", "key2"))
      .flatMap(k => si.value.getOrElse(k, Seq.empty).map(v => s"$k: $v"))
      .collect()
    assert(got.toSet == Set("key1: value1a", "key1: value1b", "key2: value2a"))

    assert(SideInput.asSingleton(Pipe.create(spark, Seq(42))).value == 42)
    assert(SideInput.asList(Pipe.create(spark, Seq(1, 2, 3))).value.sorted == Seq(1, 2, 3))
    assert(SideInput.asDict(Pipe.create(spark, Seq(("a", 1), ("b", 2)))).value == Map("a" -> 1, "b" -> 2))
  }

  test("side input over graft.sideinput.maxRows fails with a broadcast-join hint") {
    // the guard rail: a side input is driver-held broadcast state, so a
    // full-size table fed through it must FAIL (bounded at max+1 collected
    // rows), not OOM the driver at scale
    spark.conf.set("graft.sideinput.maxRows", "10")
    try {
      val e = intercept[IllegalStateException](
        SideInput.asList(Pipe.create(spark, (1 to 100))))
      assert(e.getMessage.contains("graft.sideinput.maxRows"))
      assert(e.getMessage.contains("broadcast join"))
      // at or under the cap still works
      assert(SideInput.asList(Pipe.create(spark, (1 to 10))).value.size == 10)
      // a cap at Int.MaxValue would wrap the cap + 1 probe negative and a
      // larger one is no Int at all: both fail naming the conf, even for a
      // 10-row side input
      Seq(Int.MaxValue.toString, (Int.MaxValue.toLong + 1).toString).foreach { cap =>
        spark.conf.set("graft.sideinput.maxRows", cap)
        val bad = intercept[IllegalArgumentException](
          SideInput.asList(Pipe.create(spark, (1 to 10))))
        assert(bad.getMessage.contains("graft.sideinput.maxRows"), bad.getMessage)
      }
    } finally spark.conf.unset("graft.sideinput.maxRows")
  }

  test("side input injected as a process argument (test_dict_side_input)") {
    // the runner hands the materialized view to process — the DoFn body
    // never touches the SideInput object (reference UseMultimap.process)
    val side = SideInput.asDict(Pipe.create(spark,
      Seq("key1" -> Seq("value1a", "value1b"), "key2" -> Seq("value2a"))))
    val got = Pipe.create(spark, Seq("key1", "key2"))
      .parDo(side) { (k: String, dict: Map[String, Seq[String]]) =>
        dict.getOrElse(k, Seq.empty).map(v => s"$k: $v")
      }
      .collect()
    assert(got.toSet == Set("key1: value1a", "key1: value1b", "key2: value2a"))

    val factor = SideInput.asSingleton(Pipe.create(spark, Seq(10)))
    val offset = SideInput.asSingleton(Pipe.create(spark, Seq(1)))
    val two = Pipe.create(spark, Seq(1, 2, 3))
      .parDo(factor, offset)((x: Int, f: Int, o: Int) => Seq(x * f + o))
      .collect()
    assert(two.sorted == Seq(11, 21, 31))
  }

  test("three and four side inputs inject positionally; parDoN takes any arity") {
    // reference insert_values_in_args injects ANY number of views as extra
    // process args (transform_evaluators.py:35-50)
    val f1 = SideInput.asSingleton(Pipe.create(spark, Seq(10)))
    val f2 = SideInput.asSingleton(Pipe.create(spark, Seq(100)))
    val f3 = SideInput.asSingleton(Pipe.create(spark, Seq(1000)))
    val allow = SideInput.asList(Pipe.create(spark, Seq(1, 3)))

    val three = Pipe.create(spark, Seq(1, 2, 3))
      .parDo(f1, f2, f3)((x: Int, a: Int, b: Int, c: Int) => Seq(x * a + b + c))
      .collect()
    assert(three.sorted == Seq(1110, 1120, 1130))

    val four = Pipe.create(spark, Seq(1, 2, 3))
      .parDo(f1, f2, f3, allow) { (x: Int, a: Int, b: Int, c: Int, ok: Seq[Int]) =>
        if (ok.contains(x)) Seq(x * a + b + c) else Seq.empty
      }
      .collect()
    assert(four.sorted == Seq(1110, 1130))

    // the fully general form: 5 views through parDoN
    val dict = SideInput.asDict(Pipe.create(spark, Seq(1 -> "one", 3 -> "three")))
    val got = Pipe.create(spark, Seq(1, 2, 3))
      .parDoN(f1, f2, f3, allow, dict) { (x: Int, vs: Seq[Any]) =>
        val Seq(a: Int, b: Int, c: Int, ok: Seq[Int] @unchecked, d: Map[Int, String] @unchecked) = vs
        if (ok.contains(x)) Seq(s"${d(x)}:${x * a + b + c}") else Seq.empty
      }
      .collect()
    assert(got.sorted == Seq("one:1110", "three:1130"))
  }

  test("sharded writeText emits Beam-style part-SSSSS-of-NNNNN files") {
    val dir = tempDir("graft-shards").toFile
    val out = s"${dir.getAbsolutePath}/sharded"
    Pipe.create(spark, (1 to 100).toSeq).map(x => s"line$x").writeText(out, 3)
    val files = new java.io.File(out).listFiles.map(_.getName)
      .filter(_.startsWith("part-")).sorted.toSeq
    assert(files == Seq("part-00000-of-00003", "part-00001-of-00003", "part-00002-of-00003"))
    assert(Pipe.readText(spark, out).collect().toSet ==
      (1 to 100).map(i => s"line$i").toSet)
  }

  test("Create uses the reference's sqrt(n)/sqrt(100) partition heuristic") {
    // reference transform_evaluators.py:19:
    // num_partitions = max(1, ceil(sqrt(len(items)) / sqrt(100)))
    def parts(n: Int): Int =
      Pipe.create(spark, (1 to n).toSeq).ds.rdd.getNumPartitions
    assert(parts(1) == 1)     // ceil(1/10)
    assert(parts(100) == 1)   // ceil(10/10)
    assert(parts(101) == 2)   // ceil(10.05/10)
    assert(parts(500) == 3)   // ceil(22.36/10)
    assert(parts(10000) == 10)
  }

  test("readText + writeText round-trip (test_write)") {
    val dir = tempDir("graft-io").toFile
    val out = s"${dir.getAbsolutePath}/out"
    Pipe.create(spark, Seq(1, 2, 3, 4, 10)).map(x => (x * 2, x))
      .map { case (k, v) => s"($k, [$v])" }
      .writeText(out)
    val back = Pipe.readText(spark, out).collect()
    assert(back.toSet == Set("(2, [1])", "(4, [2])", "(6, [3])", "(8, [4])", "(20, [10])"))
  }

  test("unified model: the same transform chain over readText and readStreamText " +
      "produces identical results on a bounded source") {
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-pipe-stream").toFile
    val in = s"${dir.getAbsolutePath}/in"
    Pipe.create(spark, Seq(
      "the quick brown fox", "jumps over the lazy dog",
      "the dog barks", "a fox runs")).writeText(in)
    // ONE pipeline definition, applied to both source kinds — Beam's
    // PCollection contract
    def wordCount(lines: Pipe[String]): Pipe[(String, Long)] =
      lines.flatMap(_.split(" ").toSeq)
        .filter(_.nonEmpty)
        .map(w => (w, 1L))
        .combinePerKey(new CombineFn[Long, Long, Long] {
          def createAccumulator(): Long = 0L
          def addInput(a: Long, in: Long): Long = a + in
          def mergeAccumulators(a: Long, b: Long): Long = a + b
          def extractOutput(a: Long): Long = a
        })
    val batch = wordCount(Pipe.readText(spark, in)).collect().sorted
    def views() = spark.catalog.listTables().collect().count(_.isTemporary)
    val views0 = views()
    val stream = Pipe.drain(wordCount(Pipe.readStreamText(spark, in)), "complete")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(stream == batch && batch.nonEmpty)
    // drain stops its query and drops its sink view, leaving the rows
    assert(views() == views0, "drain left its sink view registered")
    assert(spark.streams.active.isEmpty, "drain left its query active")
    // elementwise (append-mode) chains drain identically too
    val batchWords = Pipe.readText(spark, in)
      .flatMap(_.split(" ").toSeq).map(_.toUpperCase).collect().sorted
    val streamWords = Pipe.drain(
        Pipe.readStreamText(spark, in).flatMap(_.split(" ").toSeq).map(_.toUpperCase))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(streamWords == batchWords)
    assert(views() == views0 && spark.streams.active.isEmpty)
    // batch-only sinks reject unbounded pipes with the engine's own error
    intercept[Exception] {
      Pipe.readStreamText(spark, in).collect()
    }
  }
  test("A29 windowInto: fixed/sliding assignment and session merging, batch == stream") {
    import SparkSpecBase.spark.implicits._
    val dir = tempDir("graft-pipe-win").toFile
    val in = s"${dir.getAbsolutePath}/in"
    // lines "key,tsMinutes,value" — a deterministic mini event log whose
    // timestamps exercise window boundaries (0, 59, 60) and session gaps
    val us = 60L * 1000000 // one minute
    Pipe.create(spark, Seq(
      "a,0,1", "a,59,2", "a,60,3", "a,125,4",
      "b,10,5", "b,200,6", "b,205,7")).writeText(in)
    def parse(lines: Pipe[String]): Pipe[(String, Long, Long)] =
      lines.map { ln =>
        val p = ln.split(","); (p(0), p(1).toLong * us, p(2).toLong)
      }
    val sumFn = new CombineFn[(String, Long, Long), Long, Long] {
      def createAccumulator(): Long = 0L
      def addInput(a: Long, t: (String, Long, Long)): Long = a + t._3
      def mergeAccumulators(a: Long, b: Long): Long = a + b
      def extractOutput(a: Long): Long = a
    }
    // FIXED 1h: a → windows at 0h (1+2), 1h (3), 2h (4); b → 0h (5), 3h (6+7)
    def fixed(lines: Pipe[String]) = parse(lines)
      .windowInto(FixedWindows(60 * us))(_._2).combinePerKey(_._1)(sumFn)
    val gotFixed = fixed(Pipe.readText(spark, in)).collect().toSet
    assert(gotFixed == Set(
      ("a", 0L, 60 * us, 3L), ("a", 60 * us, 120 * us, 3L),
      ("a", 120 * us, 180 * us, 4L),
      ("b", 0L, 60 * us, 5L), ("b", 180 * us, 240 * us, 13L)))
    // SLIDING 2h/1h: every element lands in exactly two windows, sums double
    val gotSliding = parse(Pipe.readText(spark, in))
      .windowInto(SlidingWindows(120 * us, 60 * us))(_._2)
      .combinePerKey(_._1)(sumFn).collect()
    val perKeyFixed = gotFixed.groupBy(_._1).view.mapValues(_.toSeq.map(_._4).sum)
    gotSliding.groupBy(_._1).foreach { case (k, rows) =>
      assert(rows.map(_._4).sum == 2 * perKeyFixed(k),
        s"key $k: sliding mass != 2x element mass")
      rows.foreach { case (_, st, en, _) =>
        assert(en - st == 120 * us && st % (60 * us) == 0)
      }
    }
    // SESSIONS gap 30min: a's gaps are 59, 1, 65 minutes → splits at the
    // 59 and 65 gaps: [0], [59,60], [125]; b = [10], [200,205]. Session
    // window = [first, last + gap), Beam's merged extent.
    val gotSess = parse(Pipe.readText(spark, in))
      .windowInto(Sessions(30 * us))(_._2).combinePerKey(_._1)(sumFn).collect().toSet
    assert(gotSess == Set(
      ("a", 0L, 30 * us, 1L), ("a", 59 * us, 90 * us, 5L),
      ("a", 125 * us, 155 * us, 4L),
      ("b", 10 * us, 40 * us, 5L), ("b", 200 * us, 235 * us, 13L)))
    // UNIFIED MODEL: the same fixed-window pipeline over the text STREAM
    // drains to the identical result (the A27 property, now windowed)
    val streamed = Pipe.drain(fixed(Pipe.readStreamText(spark, in)), "complete")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed == gotFixed)
    // windowed groupByKey carries the same per-window element sets
    val grouped = parse(Pipe.readText(spark, in))
      .windowInto(FixedWindows(60 * us))(_._2)
      .groupByKey(_._1).collect()
    assert(grouped.map(g => (g._1, g._2, g._3, g._4.map(_._3).sum)).toSet == gotFixed)
  }

  test("A28 partition is disjoint, exhaustive, and fails fast on a bad index") {
    // the fan-out's auto-persist is released when the scope exits
    CacheScope.run {
      val s = spark
      import s.implicits._
      val p = graft.pipeline.Pipe(s.range(0, 100).as[Long])
      val parts = p.partition(4)(v => (v % 4).toInt)
      assert(parts.length == 4)
      val sets = parts.map(_.ds.collect().toSet)
      // exhaustive: the union recovers every element; disjoint: sizes add up
      assert(sets.reduce(_ ++ _) == (0L until 100L).toSet)
      assert(sets.map(_.size).sum == 100)
      sets.zipWithIndex.foreach { case (set, i) =>
        assert(set.forall(_ % 4 == i), s"element leaked across partition $i")
      }
      // an out-of-range partition index fails the job, never drops silently
      val bad = p.partition(2)(_ => 7)
      intercept[org.apache.spark.SparkException] { bad.head.ds.count() }
    }
  }

}
