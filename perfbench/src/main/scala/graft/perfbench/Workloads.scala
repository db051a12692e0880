package graft.perfbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core._
import graft.io.SnapshotIO
import graft.stages.{Canon, Detect, LexiconCrfTagger, Link, Pipeline, Triples}
import graft.synth.Transcripts

/** The per-layer metric names, in print order. Every traced run prints all
  * of them; a layer the workload does not run reads 0.
  */
object PerLayer {
  val legs = Seq("1c", "4c")
  val fusedLeg = Seq(
    "stages.fused.map_s" -> "s", "stages.fused.map_cpu_s" -> "s", "stages.fused.reduce_s" -> "s",
    "exchange.bytes" -> "bytes", "exchange.records" -> "count", "exchange.fetch_wait_s" -> "s",
    "spill.bytes" -> "bytes", "jvm.gc_s" -> "s", "skew.reduce_max_over_median" -> "ratio")
  lazy val queries: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
  lazy val all: Seq[(String, String)] =
    Seq("core.tagger.turns_per_s" -> "1/s", "core.tagger.spans" -> "count") ++
      (for (l <- legs; (n, u) <- fusedLeg) yield s"${n}_$l" -> u) ++
      Seq("fused.scaling_eff" -> "ratio",
        "spark.fixed_s" -> "s", "spark.jobs" -> "count", "spark.tasks" -> "count",
        "stages.detect_s" -> "s", "stages.link_s" -> "s", "stages.canon_s" -> "s",
        "stages.triples_sorted_s" -> "s",
        "link.exact" -> "count", "link.fuzzy" -> "count", "link.nil" -> "count",
        "canon.components" -> "count", "canon.cc_rounds" -> "count",
        "io.commit_s" -> "s", "io.commit_bytes" -> "bytes", "io.resume_read_s" -> "s",
        "snapshot.cold_s" -> "s", "snapshot.fixed_s" -> "s", "snapshot.jobs" -> "count") ++
      queries.map(q => s"q.${q}_s" -> "s") ++
      Seq("ops.candidate_gen_s" -> "s", "stages.mention_queries_s" -> "s",
        "spark.small_queries_s" -> "s", "trace.coverage" -> "ratio", "trace.overhead_s" -> "s")
  lazy val names: Seq[String] = all.map(_._1)
  def unitOf(n: String): String = all.find(_._1 == n).map(_._2).getOrElse("count")
}

/** Shared pieces of the workloads. */
object Common {
  def warmSeed(seed: Long): Long = seed ^ 0x5DEECE66DL

  def delete(f: File): Unit = if (f.exists()) SnapshotIO.deleteRecursively(f.toPath)

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum

  /** Single-thread `spanOne` over the texts of the first conversations of
    * the seed's corpus, outside Spark. The span count must equal the
    * generator's planted mentions.
    */
  def taggerBench(r: Run, spark: SparkSession): Unit = {
    val turns = (0L until 2500L).flatMap { c =>
      (0 until Transcripts.convLen(c, r.seed)).map(t => Transcripts.makeTurn(c, t, r.seed))
    }
    val texts = turns.map(_._1.text).toArray
    val gold = turns.map(_._2.length.toLong).sum
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
      .value.asInstanceOf[LexiconCrfTagger]
    val walls = (1 to 9).map { _ =>
      val t0 = System.nanoTime()
      var spans = 0L
      var i = 0
      while (i < texts.length) { spans += tagger.spanOne(texts(i)).length; i += 1 }
      val s = (System.nanoTime() - t0) / 1e9
      r.check(spans == gold, s"tagger spans $spans != gold $gold")
      s
    }
    // the first passes warm the JIT; the median of the rest is the rate
    r.perLayer("core.tagger.turns_per_s", texts.length / Stats.median(walls.drop(3)), "1/s")
    r.perLayer("core.tagger.spans", gold.toDouble, "count")
  }
}

/** The KG chain over one seeded corpus, closed loop:
  *  - `Triples.runFusedDetect` reading the corpus from parquet, one pass per
  *    op, at local[4] (job_s) and at local[1] (job2_s);
  *  - traced runs only: `Pipeline.runWithSnapshots` over the same corpus, a
  *    cold run on a fresh work dir then `Resumes` resume runs on the
  *    committed dir, and the same chain called stage by stage.
  * Every op ends in an order-independent digest of its triples, checked
  * against `Transcripts.goldTriples` for the seed outside the timed call.
  */
object KgChain {
  val Convs = 16000L
  val Files = 16
  val MinReps4 = 5
  val MinReps1 = 4
  val WarmConvs = 200L
  /** Resume runs per cold run: a resume is short, so several make its median. */
  val Resumes = 3
  val WarmResumes = 3
  /** The corpus is small, so AQE would coalesce the fused chain's exchange
    * into one reduce task and hide the reduce side's parallelism and skew:
    * the fused passes keep all `Files` reduce partitions, as a
    * production-sized shuffle would. The snapshot flow keeps the default.
    */
  val Coalesce = "spark.sql.adaptive.coalescePartitions.enabled"

  private def chain(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    Triples.runFusedDetect(spark.read.parquet(path).as[Turn], tagger, Transcripts.aliasRows,
      Transcripts.sameAs, Pipeline.transcriptsDict, Pipeline.transcriptsConvEncodeJvm,
      Pipeline.transcriptsConvCodec.decode).toDF()
  }

  /** Warm-up passes over the seed-disjoint corpus until two in a row are
    * within 10% of each other (at least `min`, at most 10): on a loaded
    * host the JIT needs more passes to settle.
    */
  private def warmUp(r: Run, spark: SparkSession, path: String, min: Int): Unit = {
    spark.conf.set(Coalesce, "false")
    var prev, cur = Double.MaxValue
    var i = 0
    while (i < min || (i < 10 && math.abs(cur - prev) > 0.1 * prev)) {
      val t0 = System.nanoTime()
      Digest.of(chain(spark, path))
      prev = cur
      cur = (System.nanoTime() - t0) / 1e9
      i += 1
    }
    r.note(s"warm-up passes: $i")
  }

  private final case class Leg(walls: Seq[Double], traced: Seq[Double], untraced: Seq[Double],
                               stats: Seq[SpanStats])

  private def leg(r: Run, spark: SparkSession, name: String, path: String,
                  gold: (Long, String), minReps: Int): Leg = {
    spark.conf.set(Coalesce, "false")
    val walls, traced, untraced = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[SpanStats]
    val t0 = System.nanoTime()
    var i = 0
    while (i < minReps || ((System.nanoTime() - t0) / 1e9 < r.seconds / 3 && i < 200)) {
      val tr = r.trace && i % 2 == 0
      try {
        val (d, sp) = r.span(spark, name, tr)(Digest.of(chain(spark, path)))
        if (r.check(d == gold, s"$name rep $i digest $d != gold $gold")) {
          walls += sp.wallS
          if (tr) { traced += sp.wallS; stats += r.stats(sp) } else untraced += sp.wallS
        }
      } catch { case NonFatal(e) => r.failedOp(s"$name rep $i", e) }
      i += 1
    }
    r.sampleHeap()
    r.note(s"$name walls ${walls.map(w => f"$w%.3f").mkString(",")}")
    Leg(walls.toSeq, traced.toSeq, untraced.toSeq, stats.toSeq)
  }

  def run(r: Run): Unit = {
    val corpus = new File(r.work, "corpus").getPath
    val warm = new File(r.work, "warm").getPath
    var spark = r.session(4, Files)
    r.recordStartup()
    var gold = (0L, "")
    var turns = 0L
    for (_ <- 1 to 3) r.setupRep {
      Transcripts.turns(spark, Convs, r.seed, Files).write.mode("overwrite").parquet(corpus)
      turns = spark.read.parquet(corpus).count()
      gold = Digest.of(Transcripts.goldTriples(spark, Convs, r.seed).toDF())
    }
    r.note(s"corpus turns=$turns gold triples=${gold._1}")
    r.setupPart("warmup_4c") {
      Transcripts.turns(spark, Convs, Common.warmSeed(r.seed), Files)
        .write.mode("overwrite").parquet(warm)
      warmUp(r, spark, warm, min = 3)
    }
    val leg4 = leg(r, spark, "fused_4c", corpus, gold, MinReps4)
    if (r.trace) {
      snapshots(r, spark, gold)
      breakdown(r, spark, gold)
      Common.taggerBench(r, spark)
    }
    r.stop(spark)
    spark = r.setupPart("session_1c")(r.session(1, Files))
    r.setupPart("warmup_1c")(warmUp(r, spark, warm, min = 2))
    val leg1 = leg(r, spark, "fused_1c", corpus, gold, MinReps1)
    r.stop(spark)

    val s4 = Stats.median(leg4.walls)
    val s1 = Stats.median(leg1.walls)
    r.note(f"turns_per_s_4c=${turns / s4}%.0f turns_per_s_1c=${turns / s1}%.0f turns=$turns")
    r.endToEnd("job_s", s4, "s")
    r.endToEnd("job2_s", s1, "s")
    if (r.trace) {
      for ((l, lg) <- Seq("4c" -> leg4, "1c" -> leg1)) {
        def med(f: SpanStats => Double) = Stats.median(lg.stats.map(f))
        r.perLayer(s"stages.fused.map_s_$l", med(_.mapS), "s")
        r.perLayer(s"stages.fused.map_cpu_s_$l", med(_.mapCpuS), "s")
        r.perLayer(s"stages.fused.reduce_s_$l", med(_.reduceS), "s")
        r.perLayer(s"exchange.bytes_$l", med(_.exchangeBytes.toDouble), "bytes")
        r.perLayer(s"exchange.records_$l", med(_.exchangeRecords.toDouble), "count")
        r.perLayer(s"exchange.fetch_wait_s_$l", med(_.fetchWaitS), "s")
        r.perLayer(s"spill.bytes_$l", med(_.spillBytes.toDouble), "bytes")
        r.perLayer(s"jvm.gc_s_$l", med(_.gcS), "s")
        r.perLayer(s"skew.reduce_max_over_median_$l", med(_.skew), "ratio")
      }
      r.perLayer("fused.scaling_eff", (s1 / s4) / 4, "ratio")
      val st = leg4.stats
      r.perLayer("spark.fixed_s", Stats.median(st.map(_.fixedS)), "s")
      r.perLayer("spark.jobs", Stats.median(st.map(_.jobs.toDouble)), "count")
      r.perLayer("spark.tasks", Stats.median(st.map(_.tasks.toDouble)), "count")
      r.perLayer("trace.coverage", st.map(_.stageUnionS).sum / st.map(_.wallS).sum, "ratio")
      r.perLayer("trace.overhead_s", Stats.median(leg4.traced) - Stats.median(leg4.untraced), "s")
    }
  }

  /** Two cold runs, the first traced, each followed by `Resumes` resume
    * runs.
    */
  private def snapshots(r: Run, spark: SparkSession, gold: (Long, String)): Unit = {
    spark.conf.set(Coalesce, "true")
    r.setupPart("warmup_snapshot") {
      val d = new File(r.work, "warm_snapshot")
      Common.delete(d)
      Digest.of(Pipeline.runWithSnapshots(spark, WarmConvs, d.getPath, Common.warmSeed(r.seed)))
      // the resume path is short and warms slowly: run it several times
      (1 to WarmResumes).foreach(_ =>
        Pipeline.runWithSnapshots(spark, WarmConvs, d.getPath, Common.warmSeed(r.seed)))
      Common.delete(d)
    }
    val cold, resume = mutable.ArrayBuffer.empty[Double]
    val stats = mutable.ArrayBuffer.empty[SpanStats]
    for (i <- 0 until 2) {
      val tr = i == 0
      val dir = new File(r.work, s"snapshot$i")
      Common.delete(dir)
      try {
        val (df, c) = r.span(spark, "snapshot.cold", tr)(
          Pipeline.runWithSnapshots(spark, Convs, dir.getPath, r.seed))
        if (r.check(Digest.of(df) == gold, s"cold run $i != gold $gold")) cold += c.wallS
        if (tr) stats += r.stats(c)
        for (j <- 1 to Resumes) {
          val (df2, w) = r.span(spark, "snapshot.resume", tr)(
            Pipeline.runWithSnapshots(spark, Convs, dir.getPath, r.seed))
          if (r.check(Digest.of(df2) == gold, s"resume run $i.$j != gold $gold")) resume += w.wallS
        }
      } catch { case NonFatal(e) => r.failedOp(s"snapshot run $i", e) }
      Common.delete(dir)
    }
    r.sampleHeap()
    r.note(s"cold walls ${cold.map(w => f"$w%.3f").mkString(",")} " +
      s"resume walls ${resume.map(w => f"$w%.3f").mkString(",")}")
    r.perLayer("snapshot.cold_s", Stats.median(cold.toSeq), "s")
    r.perLayer("io.resume_read_s", Stats.median(resume.toSeq), "s")
    r.perLayer("snapshot.fixed_s", Stats.median(stats.map(_.fixedS).toSeq), "s")
    r.perLayer("snapshot.jobs", Stats.median(stats.map(_.jobs.toDouble).toSeq), "count")
  }

  /** The snapshot flow's cold chain called stage by stage: each stage
    * persisted and counted under its own span, then committed through
    * `SnapshotIO`.
    */
  private def breakdown(r: Run, spark: SparkSession, gold: (Long, String)): Unit = {
    spark.conf.set(Coalesce, "true")
    import spark.implicits._
    val dir = new File(r.work, "breakdown")
    Common.delete(dir)
    val key = s"n${Convs}_s${r.seed}"
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def stage(name: String)(df: => DataFrame): DataFrame = {
      val (out, sp) = r.span(spark, s"stages.$name", traced = true) {
        val p = df.persist(level)
        p.count()
        p
      }
      r.perLayer(s"stages.${name}_s", sp.wallS, "s")
      out
    }
    val turns = Transcripts.turns(spark, Convs, r.seed)
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    val mentions = stage("detect")(Detect.run(turns, tagger).toDF())
    val linked = stage("link")(
      Link.run(mentions.as[Mention], Transcripts.aliasRows.toDF(), enableFuzzy = true).toDF())
    val sameAs = Transcripts.sameAs.toDF("src", "dst")
    val canon = stage("canon")(Canon.run(linked.as[LinkedMention], sameAs).toDF())
    val triples = stage("triples_sorted")(Triples.runEncodedSorted(canon.as[CanonMention],
      Pipeline.transcriptsDict, convCodec = Some(Pipeline.transcriptsConvCodec)).toDF())
    r.check(Digest.of(triples) == gold, s"staged triples != gold $gold")

    val methods = linked.groupBy(col("method")).count().collect()
      .map(row => Option(row.getString(0)).getOrElse("nil") -> row.getLong(1)).toMap
    Seq("exact", "fuzzy", "nil").foreach(m =>
      r.perLayer(s"link.$m", methods.getOrElse(m, 0L).toDouble, "count"))
    val (comp, rounds, _) = Canon.connectedComponentsWithStats(sameAs)
    r.perLayer("canon.components", comp.select(col("canonical_id")).distinct().count().toDouble, "count")
    r.perLayer("canon.cc_rounds", rounds.toDouble, "count")

    val stages = Seq("mentions" -> mentions, "linked" -> linked, "canon" -> canon, "triples" -> triples)
    val commits = stages.map { case (name, df) =>
      r.span(spark, "io.commit", traced = true)(
        SnapshotIO.resumeOrCompute(spark, dir.getPath, name, key)(df))._2.wallS
    }
    r.perLayer("io.commit_s", commits.sum, "s")
    r.perLayer("io.commit_bytes", Common.bytesUnder(dir).toDouble, "bytes")
    Seq(mentions, linked, canon, triples).foreach(_.unpersist(true))
    Common.delete(dir)
  }
}

/** All `SparkEntry.queries` over the tables committed with the benchmark,
  * in sorted-name order (q22–q24 share one memoized `Pipeline.run`, so the
  * order is part of the workload). One op = one query, timed around
  * `collect()`. Each pass runs in a fresh session so its memo starts empty.
  * One untimed pass warms the JVM before the timed pass.
  */
object QuerySuite {
  val DataRel = "perfbench/data/sf0.001"
  val ExpectedRel = "perfbench/expected/query_suite.json"
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")
  val CandidateGen = Seq("q14_unigram_jaccard_pairs", "q15_minhash_pairs", "q16b_simhash_pairs",
    "q42_minhash_native_pairs")
  val MentionQueries = Seq("q21_pipeline_mentions", "q22_pipeline_linked",
    "q34_augment_expansion", "q36_per_type_report", "q41_entity_prompts")
  /** Queries at or under this wall in the recording run form the fixed
    * "small queries" set (mostly Spark fixed cost).
    */
  val SmallQueryS = 0.5
  /** The suite's jobs run 1.3 tasks each on average, so a warm pass takes
    * as long at local[2] as at local[4]; two task slots leave the driver
    * thread, the JIT and the GC cores of their own on a 4-vCPU host.
    */
  val Cores = 2

  final case class Expected(rows: Long, hash: String)

  private def loadExpected(root: File): (Map[String, Expected], Set[String]) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(root, ExpectedRel))
    val qs = node.get("queries")
    val names = qs.fieldNames()
    val m = mutable.Map.empty[String, Expected]
    while (names.hasNext) {
      val n = names.next()
      m(n) = Expected(qs.get(n).get("rows").asLong(), qs.get(n).get("hash").asText())
    }
    val small = mutable.Set.empty[String]
    node.get("small_queries").elements().forEachRemaining(e => small += e.asText())
    (m.toMap, small.toSet)
  }

  private def setUp(r: Run): (SparkSession, String) = {
    val dir = new File(r.root, DataRel)
    require(Tables.forall(t => new File(dir, s"$t.parquet").exists()), s"missing tables under $DataRel")
    val spark = r.session(Cores, 8)
    r.recordStartup()
    // set-up step: list the tables and read their footers and schemas
    for (_ <- 1 to 3) r.setupRep(Tables.foreach(t => spark.read.parquet(s"${dir.getPath}/$t.parquet").schema))
    (spark, dir.getPath)
  }

  private final case class Pass(walls: Map[String, Double], digests: Map[String, (Long, String)],
                                stats: Map[String, SpanStats], failed: Set[String])

  /** One pass over all queries in a fresh session. Each query is timed
    * around `collect()`; the rows are digested afterwards, so
    * checking the output needs no second execution.
    */
  private def pass(r: Run, spark: SparkSession, dir: String, traced: Boolean): Pass = {
    spark.catalog.clearCache()
    val s = spark.newSession()
    val walls = mutable.LinkedHashMap.empty[String, Double]
    val digests = mutable.Map.empty[String, (Long, String)]
    val stats = mutable.Map.empty[String, SpanStats]
    val failed = mutable.Set.empty[String]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val (rows, sp) = r.span(s, name, traced)(fn(s, dir).collect())
        walls(name) = sp.wallS
        digests(name) = Digest.ofRows(rows)
        if (traced) stats(name) = r.stats(sp)
      } catch { case NonFatal(e) => failed += name; r.failedOp(name, e) }
    }
    spark.catalog.clearCache()
    Pass(walls.toMap, digests.toMap, stats.toMap, failed.toSet)
  }

  /** Checks every query of the pass against its expected digest. */
  private def matches(r: Run, expected: Map[String, Expected], p: Pass): Boolean =
    p.digests.map { case (q, (n, h)) =>
      r.check(expected.get(q).contains(Expected(n, h)), s"$q digest ($n, $h) != expected ${expected.get(q)}")
    }.forall(identity) && p.failed.isEmpty

  def run(r: Run): Unit = {
    val (expected, small) = loadExpected(r.root)
    val (spark, dir) = setUp(r)
    // A first pass over the same queries is warm-up: on a loaded host a cold
    // pass waits on the JIT and takes up to twice as long as a warm one.
    val warm = r.setupPart("warm_pass")(pass(r, spark, dir, traced = false))
    matches(r, expected, warm)
    r.setupPart("settle")(r.settle())
    // A traced run makes its timed pass traced; it follows the same warm-up.
    val passes = mutable.ArrayBuffer.empty[Pass]
    val t0 = System.nanoTime()
    while (passes.isEmpty || ((System.nanoTime() - t0) / 1e9 < r.seconds && passes.size < 20)) {
      passes += pass(r, spark, dir, traced = r.trace)
    }
    r.sampleHeap()
    // a pass with any failed or mismatched query stays out of the timings
    val good = passes.filter(matches(r, expected, _))
    val use = if (good.nonEmpty) good else passes
    val totals = use.map(_.walls.values.sum)
    val smallS = use.map(p => small.toSeq.map(p.walls.getOrElse(_, 0.0)).sum)
    r.note(s"suite walls ${totals.map(w => f"$w%.3f").mkString(",")}")
    r.endToEnd("job_s", Stats.median(totals.toSeq), "s")
    r.endToEnd("job2_s", Stats.median(smallS.toSeq), "s")
    if (r.trace) {
      val tp = use.head
      PerLayer.queries.foreach(q => r.perLayer(s"q.${q}_s", tp.walls.getOrElse(q, 0.0), "s"))
      r.perLayer("ops.candidate_gen_s", CandidateGen.map(tp.walls.getOrElse(_, 0.0)).sum, "s")
      r.perLayer("stages.mention_queries_s", MentionQueries.map(tp.walls.getOrElse(_, 0.0)).sum, "s")
      r.perLayer("spark.small_queries_s", smallS.head, "s")
      val st = tp.stats.values.toSeq
      r.perLayer("spark.fixed_s", st.map(_.fixedS).sum, "s")
      r.perLayer("spark.jobs", st.map(_.jobs).sum.toDouble, "count")
      r.perLayer("spark.tasks", st.map(_.tasks).sum.toDouble, "count")
      r.perLayer("trace.coverage", st.map(_.stageUnionS).sum / st.map(_.wallS).sum, "ratio")
      r.perLayer("trace.overhead_s", r.listener.get.busyS / passes.size, "s")
      Common.taggerBench(r, spark)
    }
    r.stop(spark)
  }

  /** Writes the expected row counts, digests and the small-query set from
    * one run of the suite. Used only to (re)create the expectations file.
    */
  def record(r: Run): Unit = {
    val (spark, dir) = setUp(r)
    val p = pass(r, spark, dir, traced = false)
    require(p.failed.isEmpty, s"queries failed: ${p.failed}")
    val entries = p.digests.toSeq.sortBy(_._1).map { case (name, (n, h)) =>
      s"""    ${Json.str(name)}: {"rows": $n, "hash": ${Json.str(h)}}"""
    }
    val small = p.walls.filter(_._2 <= SmallQueryS).keys.toSeq.sorted
    val out = new File(r.root, ExpectedRel)
    out.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.write(s"""{\n  "data": ${Json.str(DataRel)},\n  "small_queries": ${Json.strs(small)},\n""" +
      s"""  "queries": {\n${entries.mkString(",\n")}\n  }\n}\n""")
    finally w.close()
    r.stop(spark)
    r.note(f"wrote ${out.getPath}: ${entries.size} queries, ${small.size} small, ${p.walls.values.sum}%.3f s; " +
      p.walls.toSeq.sortBy(_._1).map { case (q, w) => f"$q=$w%.3f" }.mkString(" "))
  }
}
