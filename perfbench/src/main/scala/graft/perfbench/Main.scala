package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Entry point of the repo benchmark.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> [--root <checkout>] [--record-expected]
  *
  * Prints one `{"host": ...}` line and, as the LAST stdout line, one result
  * object `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
  * the metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
  * Exits 1 when any output differs from its gold or expected value.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = opts.getOrElse("workload", "")
    val run = new Run(
      root = new File(opts.getOrElse("root", ".")).getCanonicalFile,
      workload = workload,
      seed = opts.getOrElse("seed", "1").toLong,
      seconds = opts.getOrElse("seconds", "10").toDouble,
      trace = opts.getOrElse("trace", "0") == "1")
    workload match {
      case "kg_chain" => KgChain.run(run)
      case "query_suite" =>
        if (flags.contains("record-expected")) { QuerySuite.record(run); return }
        QuerySuite.run(run)
      case other =>
        System.err.println(s"[perfbench] unknown workload: '$other'")
        sys.exit(2)
    }
    run.finish()
  }
}

/** State of one benchmark run: sessions, spans, the listener, metrics. */
final class Run(val root: File, val workload: String, val seed: Long,
                val seconds: Double, val trace: Boolean) {
  val work = new File(root, s".bench_build/work/$workload")
  val listener: Option[GroupListener] = if (trace) Some(new GroupListener) else None
  val spans = mutable.ArrayBuffer.empty[Span]
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val setupOnce = mutable.ArrayBuffer.empty[(String, Double)]
  private val setupReps = mutable.ArrayBuffer.empty[Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var heapPeakMb = 0.0
  private var spanSeq = 0
  private var sparkVersion = ""

  // ---- sessions -------------------------------------------------------
  def session(cores: Int, partitions: Int): SparkSession = {
    val local = new File(root, ".bench_build/spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload-$cores")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(root, ".bench_build/warehouse").getPath)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sparkVersion = s.version
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ---- timing ---------------------------------------------------------
  /** Runs `body` as one span: its Spark jobs carry the span id as job
    * group, and the listener is attached for the span when `traced`.
    */
  def span[A](spark: SparkSession, name: String, traced: Boolean)(body: => A): (A, Span) = {
    spanSeq += 1
    val id = s"$name#$spanSeq"
    val sc = spark.sparkContext
    val l = listener.filter(_ => traced)
    l.foreach(sc.addSparkListener)
    sc.setJobGroup(id, name, interruptOnCancel = false)
    try {
      val t0 = System.nanoTime()
      val a = body
      val sp = Span(name, id, t0, System.nanoTime(), traced = l.isDefined)
      spans += sp
      (a, sp)
    } finally {
      sc.clearJobGroup()
      l.foreach { li =>
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(li)
      }
    }
  }

  def stats(sp: Span): SpanStats = listener.get.statsOf(sp)

  /** Wall seconds of `body`, recorded as a set-up part paid once per run. */
  def setupPart[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    setupOnce += name -> (System.nanoTime() - t0) / 1e9
    a
  }

  /** Wall seconds of one repetition of the workload's set-up step. */
  def setupRep[A](body: => A): A = {
    val t0 = System.nanoTime()
    val a = body
    setupReps += (System.nanoTime() - t0) / 1e9
    a
  }

  /** JVM start to the first session being ready. */
  def recordStartup(): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    setupOnce += "jvm_and_session" -> (System.currentTimeMillis() - jvmStart) / 1e3
  }

  // ---- correctness ----------------------------------------------------
  /** Counts one operation; a false `ok` counts it as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failures += what; System.err.println(s"[perfbench] MISMATCH $what") }
    ok
  }

  def failedOp(what: String, e: Throwable): Unit = {
    attempted += 1
    failures += s"$what: $e"
    System.err.println(s"[perfbench] FAILED $what: $e")
  }

  /** Waits until the JIT has had no compilation work for half a second
    * (at most 10 s), then collects the heap, so a timed phase starts with
    * the warm-up's compilations finished and the same heap state each run.
    */
  def settle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val t0 = System.nanoTime()
    var last = -1L
    var quiet = 0
    while (quiet < 2 && System.nanoTime() - t0 < 10e9) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
    System.gc()
    note(f"settled in ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Post-GC old-generation occupancy at the end of a phase, folded into
    * the run's peak. Spark's cleaner releases blocks only after a GC has
    * found them unreachable, so the heap is collected until that settles.
    */
  def sampleHeap(): Unit = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.toArray(
      Array.empty[java.lang.management.MemoryPoolMXBean])
    def used(): Long = pools.find(_.getName.contains("Old Gen")).map(_.getUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    var prev = Long.MaxValue
    var cur = Long.MaxValue
    var i = 0
    // until a round frees less than 1 MB (at most 6 rounds)
    while (i < 2 || (i < 6 && prev - cur >= 1048576L)) {
      System.gc(); Thread.sleep(150)
      prev = cur
      cur = used()
      i += 1
    }
    heapPeakMb = math.max(heapPeakMb, cur / 1048576.0)
  }

  // ---- metrics --------------------------------------------------------
  def endToEnd(name: String, value: Double, unit: String): Unit = e2e(name) = value -> unit
  def perLayer(name: String, value: Double, unit: String): Unit = layer(name) = value -> unit
  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def finish(): Unit = {
    val setupS = setupOnce.map(_._2).sum + Stats.median(setupReps.toSeq)
    note(f"setup parts: ${setupOnce.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")} " +
      s"reps=${setupReps.map(v => f"$v%.3f").mkString(",")}")
    val metrics =
      if (trace) PerLayer.names.map(n => n -> layer.getOrElse(n, (0.0, PerLayer.unitOf(n))))
      else Seq("setup_s" -> (setupS, "s")) ++
        Seq("job_s", "job2_s").map(n => n -> e2e(n)) :+ ("heap_peak_mb" -> (heapPeakMb, "MB"))
    val host = Host.facts(this, sparkVersion)
    writeTrace(host)
    println(s"""{"host":$host}""")
    val metricJson = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    val correct = failures.isEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1L, attempted)},""" +
      s""""failed":${failures.size},"metrics":{$metricJson}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def writeTrace(host: String): Unit = {
    val dir = new File(root, ".bench_build/trace")
    dir.mkdirs()
    val l = listener
    val spanJson = spans.map { s =>
      val extra = l.filter(_ => s.traced).map { li =>
        val st = li.statsOf(s)
        s""","jobs":${st.jobs},"tasks":${st.tasks},"stage_union_s":${Json.num(st.stageUnionS)},""" +
          s""""fixed_s":${Json.num(st.fixedS)},"exchange_bytes":${st.exchangeBytes}"""
      }.getOrElse("")
      s"""{"name":"${s.name}","id":"${s.id}","start_ns":${s.t0},"end_ns":${s.t1}$extra}"""
    }.mkString(",\n")
    val layerJson = layer.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
      .mkString(",")
    val f = new File(dir, s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.write(s"""{"host":$host,"per_layer":{$layerJson},"failures":${Json.strs(failures.toSeq)},""" +
      s""""spans":[\n$spanJson]}\n""")
    finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def strs(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
}

object Host {
  /** The facts every figure is reported with. */
  def facts(run: Run, sparkVersion: String): String = {
    val os = ManagementFactory.getOperatingSystemMXBean
    val memTotal = os match {
      case o: com.sun.management.OperatingSystemMXBean => o.getTotalMemorySize
      case _ => -1L
    }
    val jvmFlags = ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
      .map(_.toString).filter(a => a.startsWith("-X") || a.startsWith("-XX"))
    Seq(
      "workload" -> Json.str(run.workload), "seed" -> run.seed.toString,
      "seconds" -> Json.num(run.seconds), "trace" -> run.trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_bytes" -> memTotal.toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "jvm_max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jvm_flags" -> Json.strs(jvmFlags.toSeq),
      "spark_version" -> Json.str(sparkVersion),
      "git_commit" -> Json.str(sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown")),
      "source_digest" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown")))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }
}

/** Order-independent content digests: row count plus the sum of a per-row
  * 64-bit hash. Doubles are rounded to 6 decimals first, so an aggregate
  * whose last bits depend on summation order hashes stably.
  */
object Digest {
  /** Digest of collected rows, computed in this JVM. */
  def ofRows(rows: Array[org.apache.spark.sql.Row]): (Long, String) = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double => java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
        .stripTrailingZeros.toPlainString
      case f: Float => canon(f.toDouble)
      case t: java.sql.Timestamp => s"${t.getTime}/${t.getNanos}" // zone-independent
      case d: java.sql.Date => d.toLocalDate.toString
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString
      case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
        .sorted.mkString("{", ",", "}")
      case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
      case other => other.toString
    }
    var sum = BigInt(0)
    rows.foreach { r =>
      val c = canon(r)
      sum += scala.util.hashing.MurmurHash3.stringHash(c).toLong << 32 |
        (scala.util.hashing.MurmurHash3.stringHash(c, 0x5eed) & 0xffffffffL)
    }
    (rows.length.toLong, sum.toString)
  }

  /** Digest of a relation as one Spark aggregate (xxhash64 per row). */
  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      f.dataType match {
        case DoubleType | FloatType => round(c.cast("double"), 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast("double"), 6))
        case _: MapType => to_json(c)
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}
