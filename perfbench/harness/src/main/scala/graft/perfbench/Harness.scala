package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{DataSourceScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{SparkEntry, WarmDir}
import graft.functions.CacheScope
import graft.pipeline.{FizzBuzz, FizzMapper, FizzyInput, Pipeline}

/** One benchmark run in one fresh JVM: set up a session with Bench's
  * conf, warm it, time a planned sequence of invocations one at a time
  * (a closed loop with one client), and write raw records for
  * `perfbench/run.py` to check and summarize.
  *
  * Usage: Harness <plan file> <output dir>
  *
  * The plan is one `key value` pair per line; `cell` and `warm` repeat.
  * The engine is reached only through SparkEntry.queries, the three
  * prebuildIndexes, graft.pipeline.Pipeline, CacheScope's drains and
  * WarmDir.of. With `trace 1` a SparkListener records every job and
  * task, and spans (setup, warmup, q61_layout, memo.<group>, settle,
  * verify, invocation, construct, action, count) are kept in memory and
  * written at the end; each invocation is then also run once untraced,
  * for the tracing overhead. */
object Harness {

  // ---- plan -----------------------------------------------------------

  final case class Plan(kv: Map[String, String], cells: Vector[String], warm: Vector[String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"plan has no '$k'"))
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def readPlan(path: String): Plan = {
    val pairs = Files.readAllLines(Paths.get(path)).asScala.toVector
      .map(_.trim).filter(_.nonEmpty).map { l =>
        val i = l.indexOf(' ')
        if (i < 0) (l, "") else (l.take(i), l.drop(i + 1))
      }
    Plan(pairs.filterNot(p => p._1 == "cell" || p._1 == "warm").toMap,
      pairs.collect { case ("cell", c) => c }, pairs.collect { case ("warm", c) => c })
  }

  // ---- conf, checked against Bench --------------------------------------

  /** The session settings Bench uses: `local[cpus]`, shuffle partitions
    * = cpus, UI off, codegen cache 2000, 64 MiB AQE broadcast ceiling,
    * and UTC, which Bench gets from its launch flags. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "67108864",
    "spark.sql.session.timeZone" -> "UTC")

  /** Settings Bench passes as JVM flags rather than `.config` calls. */
  val launchFlags: Set[String] = Set("spark.sql.session.timeZone")

  /** Bench's `.master(...)` and `.config(k, v)` pairs, with its `cpus`
    * variable bound to `cpus`. */
  def benchConf(benchSource: String, cpus: Int): Map[String, String] = {
    val src = new String(Files.readAllBytes(Paths.get(benchSource)), "UTF-8")
      .linesIterator.filterNot(_.trim.startsWith("//")).mkString("\n")
    def value(v: String): String = v.trim match {
      case "cpus" => cpus.toString
      case s if s.startsWith("s\"") => s.drop(2).dropRight(1).replace("$cpus", cpus.toString)
      case s => s.stripPrefix("\"").stripSuffix("\"")
    }
    val master = """\.master\(([^)]*)\)""".r.findAllMatchIn(src)
      .map(m => "spark.master" -> value(m.group(1))).toSeq
    val pairs = """\.config\(\s*"([^"]+)"\s*,\s*([^)]*)\)""".r.findAllMatchIn(src)
      .map(m => m.group(1) -> value(m.group(2))).toSeq
    (master ++ pairs).toMap
  }

  /** Every difference between our conf and Bench's, empty when they agree. */
  def confDrift(ours: Map[String, String], bench: Map[String, String]): Seq[String] =
    ((ours.keySet -- launchFlags) ++ bench.keySet).toSeq.sorted.flatMap { k =>
      if (ours.get(k) == bench.get(k)) None
      else Some(s"$k: harness=${ours.getOrElse(k, "<unset>")} bench=${bench.getOrElse(k, "<unset>")}")
    }

  // ---- spans ------------------------------------------------------------

  final case class Span(id: Long, parent: Long, name: String, inv: Int, start: Long, var end: Long)

  /** Spans on the calling thread. Times are epoch nanoseconds derived
    * from one monotonic clock, so they line up with listener
    * timestamps (epoch ms). The open span's id is set as a local
    * property, so every job the span submits carries it. */
  final class Spans(spark: SparkSession, on: Boolean) {
    private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    def now: Long = epochNs + System.nanoTime()
    val done = ArrayBuffer.empty[Span]
    private var stack = List.empty[Span]
    private var next = 0L
    def apply[T](name: String, inv: Int = -1)(body: => T): (T, Span) = {
      next += 1
      val s = Span(next, stack.headOption.map(_.id).getOrElse(0L), name, inv, now, 0L)
      stack = s :: stack
      if (on) spark.sparkContext.setLocalProperty(Recorder.SpanKey, s.id.toString)
      try (body, s) finally {
        s.end = now
        stack = stack.tail
        if (on) spark.sparkContext.setLocalProperty(Recorder.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
        done += s
      }
    }
  }

  // ---- listener -----------------------------------------------------------

  final class JobRec(val id: Int, val span: Long, val start: Long, val stages: Seq[Int]) {
    @volatile var end: Long = -1L
    @volatile var ok: Boolean = false
  }

  final class StageAgg {
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, shR, shW, spill, inB, inR, laneMax, laneSum, lanes = 0L
  }

  /** `Off` as the span property marks jobs the recorder leaves out. */
  object Recorder { val SpanKey = "perfbench.span"; val Off = "off" }

  /** Jobs and per-stage task totals, as Spark's listener bus reports them. */
  final class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentHashMap[Int, StageAgg]()
    private val ignored = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.SpanKey))) match {
        case Some(Recorder.Off) => e.stageIds.foreach(ignored.add)
        case span => jobs.put(e.jobId, new JobRec(e.jobId, span.map(_.toLong).getOrElse(-1L), e.time, e.stageIds))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j => j.ok = e.jobResult == JobSucceeded; j.end = e.time }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!ignored.contains(e.stageId)) {
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
          val r = m.shuffleReadMetrics.recordsRead
          a.shR += m.shuffleReadMetrics.totalBytesRead; a.shW += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inB += m.inputMetrics.bytesRead; a.inR += m.inputMetrics.recordsRead
          if (r > 0) { a.lanes += 1; a.laneSum += r; a.laneMax = math.max(a.laneMax, r) }
        }
      }
    }
    def settle(timeoutMs: Long): Unit = {
      val until = System.currentTimeMillis() + timeoutMs
      while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < until)
        Thread.sleep(10)
    }
  }

  // ---- plan census ----------------------------------------------------------

  val CensusKeys = Seq("exchanges", "scans", "bhj", "smj", "windows", "inmem_scans",
    "codegen_fallbacks")

  /** Node counts of a final (post-AQE) physical plan and its subqueries. */
  def census(root: SparkPlan): Map[String, Int] = {
    val n = scala.collection.mutable.Map(CensusKeys.map(_ -> 0): _*)
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => n("exchanges") += 1
        case _: DataSourceScanExec | _: BatchScanExec => n("scans") += 1
        case _: BroadcastHashJoinExec => n("bhj") += 1
        case _: SortMergeJoinExec => n("smj") += 1
        case _: WindowExec => n("windows") += 1
        case _: InMemoryTableScanExec => n("inmem_scans") += 1
        case _ =>
      }
      n("codegen_fallbacks") += p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      (kids ++ p.subqueries).foreach(walk)
    }
    walk(root)
    n.toMap
  }

  // ---- output --------------------------------------------------------------

  def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(js).mkString("[", ",", "]")
    case x => js(x.toString)
  }

  final class Out(dir: String) {
    Files.createDirectories(Paths.get(dir))
    private val files = scala.collection.mutable.Map.empty[String, java.io.PrintWriter]
    def write(file: String, rec: Map[String, Any]): Unit = {
      val w = files.getOrElseUpdate(file,
        new java.io.PrintWriter(Files.newBufferedWriter(Paths.get(dir, file))))
      w.println(js(rec))
    }
    def close(): Unit = files.values.foreach(_.close())
  }

  /** The full result of `df`, computed and digested on the executors
    * (no rows are collected): (rows, hash). The hash is
    * sum(h(row_i) * B^(n-1-i)) mod 2^64 over the rows in the order
    * produced, with h = XXH64 of the row's UnsafeRow bytes, so it does
    * not depend on where partitions split the rows. */
  def fullResult(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench full result")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        it.foreach { row =>
          val u = proj(row)
          h = h * HashBase + XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator.single((n, h))
      }.collect()
    }
    parts.foldLeft((0L, 0L)) { case ((n, h), (k, hp)) => (n + k, h * pow(HashBase, k) + hp) }
  }

  val HashBase = 0x100000001B3L

  /** b^k mod 2^64. */
  def pow(b: Long, k: Long): Long = {
    var (r, x, e) = (1L, b, k)
    while (e > 0) { if ((e & 1) == 1) r *= x; x *= x; e >>= 1 }
    r
  }

  def digestOf(res: (Long, Long)): String = f"${res._1}%d:${res._2}%016x"

  private def secs(ns: Long): Double = ns / 1e9

  // ---- run ------------------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val jvmUpNs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val plan = readPlan(args(0))
    val out = new Out(args(1))
    val cpus = plan("cpus").toInt
    val trace = plan.flag("trace")
    val ours = conf(cpus)
    val drift = confDrift(ours, benchConf(plan("bench_source"), cpus))
    if (drift.nonEmpty) {
      System.err.println("[perfbench] session conf differs from Bench:\n  " + drift.mkString("\n  "))
      sys.exit(2)
    }
    val builder = SparkSession.builder()
    ours.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    if (trace) spark.sparkContext.addSparkListener(rec)
    val span = new Spans(spark, trace)
    val fixture = plan("fixture")
    val queries = SparkEntry.queries
    val dataflow = plan("workload") == "dataflow"
    val unknown = (plan.cells ++ plan.warm).distinct.filterNot(c =>
      if (dataflow) c.split('+').forall(Shapes.contains) else queries.contains(c))
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] cells not in SparkEntry.queries: ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    def drainAll(): Unit = { CacheScope.drain(); CacheScope.drainCheckpoints() }
    var memo = Map.empty[String, Double]
    var memoNames = Map.empty[String, Seq[String]]
    var memoStorage = 0L
    var source: Pipeline[FizzyInput] = null
    var input: Array[Int] = null
    val known = plan.kv.get("verified").map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val settled = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var verifyNs = 0L

    // set-up: session (above), warm-up, q61 layout, memo prebuild, settle
    val (_, setupSpan) = span("setup") {
      span("warmup") {
        spark.range(1000000L).selectExpr("sum(id)").collect()
        if (dataflow) {
          input = readInts(plan("input"))
          source = Pipeline.generatorSource(spark, input.toSeq.map(FizzyInput(_)))(
            spark.implicits.newProductEncoder[FizzyInput])
          Shapes.foreach(shape => runShape(spark, source, shape, cpus))
        } else {
          val warmDir = WarmDir.of(fixture)
          plan.warm.foreach { c =>
            try fullResult(queries(c)(spark, warmDir)) catch {
              case t: Throwable => System.err.println(s"[perfbench] warm-up failed for $c: $t")
            }
            drainAll(); spark.catalog.clearCache()
          }
        }
      }
      if (plan.cells.contains("q61_bucketed_join")) span("q61_layout") {
        try fullResult(queries("q61_bucketed_join")(spark, fixture)) catch {
          case t: Throwable => System.err.println(s"[perfbench] q61 pre-create failed: $t")
        }
        drainAll(); spark.catalog.clearCache()
      }
      if (plan.flag("prebuild")) {
        val groups = Seq[(String, () => Seq[String])](
          "dedup" -> (() => graft.operators.Dedup.prebuildIndexes(spark, fixture)),
          "similarity" -> (() => graft.operators.Similarity.prebuildIndexes(spark, fixture)),
          "text" -> (() => graft.operators.TextAnalysis.prebuildIndexes(spark, fixture)))
        groups.foreach { case (g, build) =>
          val (names, s) = span(s"memo.$g")(build())
          memo += g -> secs(s.end - s.start)
          memoNames += g -> names
        }
        memoStorage = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      }
      // settle: the drawn cells (or shapes) again on the workload's own
      // input, untimed. Plan shapes that only the fixture's sizes produce
      // compile here, and each cell's result is kept for the output check.
      span("settle") {
        for (_ <- 1 to plan("settle").toInt; c <- if (dataflow) Shapes else plan.warm) {
          if (dataflow) runShape(spark, source, c, cpus)
          else if (!settled.contains(c)) settled(c) = try {
            val df = queries(c)(spark, fixture)
            val d = digestOf(fullResult(df))
            if (!known(s"$c:$d")) {
              // a result no earlier run has checked: write it for run.py to
              // compare with DuckDB, before the drain frees its inputs (part
              // files in name order hold the rows in the order produced)
              val (_, v) = span("verify")(df.write.mode("overwrite").parquet(s"${args(1)}/results/$c"))
              verifyNs += v.end - v.start
            }
            d
          } catch { case t: Throwable => spark.catalog.clearCache(); s"failed: $t" }
          drainAll()
        }
      }
      System.gc()
    }
    val setupS = secs(jvmUpNs + System.nanoTime() - mainNs - verifyNs)

    // dataflow reference: single-thread FizzMapper over the same input
    val reference = if (dataflow) checksum(input.iterator.flatMap(v => FizzMapper(FizzyInput(v)))) else (0L, 0L)

    // traced runs only: an invocation once more without tracing (no
    // spans, its jobs left out by the listener), in seconds, or -1 when
    // it fails. Run before the traced invocation at even positions and
    // after it at odd ones, so that warm-up through the sequence falls
    // on both alike; the difference of the two is the tracing overhead.
    def untraced(cell: String): Double = {
      spark.sparkContext.setLocalProperty(Recorder.SpanKey, Recorder.Off)
      val t0 = System.nanoTime()
      val ok = try {
        if (dataflow) cell.split('+').foreach(runShape(spark, source, _, cpus))
        else fullResult(queries(cell)(spark, fixture))
        true
      } catch { case _: Throwable => false }
      drainAll()
      val s = if (ok) secs(System.nanoTime() - t0) else -1.0
      if (!ok) spark.catalog.clearCache()
      spark.sparkContext.setLocalProperty(Recorder.SpanKey, null)
      s
    }

    // timed sequence
    plan.cells.zipWithIndex.foreach { case (cell, inv) =>
      val untracedBefore = if (trace && inv % 2 == 0) Some(untraced(cell)) else None
      var df: DataFrame = null
      var err: String = null
      var res = (0L, 0L)
      var countS = Map.empty[String, Double]
      var checksumOk = true
      val ((c, a), invSpan) = span("invocation", inv) {
        val (_, c) = span("construct", inv) {
          if (!dataflow) try df = queries(cell)(spark, fixture) catch {
            case t: Throwable => err = s"construct: $t"
          }
        }
        val (_, a) = span("action", inv) {
          if (err == null) try {
            res = if (!dataflow) fullResult(df) else {
              val each = cell.split('+').map(runShape(spark, source, _, cpus))
              if (!each.forall(_ == reference)) checksumOk = false
              (each.map(_._1).sum, 0L)
            }
          } catch { case t: Throwable => err = s"action: $t" }
        }
        drainAll()
        if (err != null) spark.catalog.clearCache()
        if (trace && !dataflow && err == null) {
          val (_, n) = span("count", inv) {
            try queries(cell)(spark, fixture).count() catch {
              case t: Throwable => System.err.println(s"[perfbench] count failed for $cell: $t")
            }
            drainAll()
          }
          countS = Map("count_s" -> secs(n.end - n.start))
        }
        (c, a)
      }
      var r = Map[String, Any]("inv" -> inv, "cell" -> cell,
        "construct_s" -> secs(c.end - c.start), "action_s" -> secs(a.end - a.start),
        "invocation_s" -> secs(invSpan.end - invSpan.start), "ok" -> (err == null),
        "error" -> err, "rows" -> res._1) ++ countS
      if (err == null && dataflow) {
        r ++= Map("records_in" -> input.length.toLong * cell.split('+').length,
          "checksum_ok" -> checksumOk)
      } else if (err == null) {
        r += "digest" -> digestOf(res)
        if (trace) {
          val qe = df.queryExecution
          val ph = qe.tracker.phases
          def phase(k: String) = ph.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
          r ++= Map("optimize_s" -> phase("optimization"), "planning_s" -> phase("planning"),
            "census" -> census(qe.executedPlan))
        }
      }
      if (trace) r += "untraced_s" -> untracedBefore.getOrElse(untraced(cell))
      out.write("invocations.jsonl", r)
    }

    if (!dataflow) Files.writeString(Paths.get(args(1), "oracle_sql.json"),
      js(SparkEntry.oracleSql.filter { case (k, _) => plan.cells.contains(k) }))

    // once per run, untimed: key affinity of the routed shape
    val affinity = if (dataflow) laneAffinity(spark, source, cpus) else true

    val heap = retainedHeap()
    if (trace) rec.settle(10000)
    out.write("run.json", Map(
      "setup_s" -> setupS, "verify_s" -> secs(verifyNs), "settled" -> settled.toMap,
      "memo_build_s" -> memo, "memo_names" -> memoNames,
      "memo_storage_bytes" -> memoStorage, "retained_heap_bytes" -> heap,
      "key_affinity_ok" -> affinity, "cores" -> cpus,
      "input_records" -> (if (dataflow) input.length else 0)))
    if (trace) {
      span.done.sortBy(_.id).foreach { s =>
        out.write("spans.jsonl", Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "inv" -> s.inv, "start_ns" -> s.start, "end_ns" -> s.end))
      }
      val stageJob = rec.jobs.values.asScala.toSeq.sortBy(_.id).reverse
        .flatMap(j => j.stages.map(_ -> j.id)).toMap
      val byJob = rec.stages.asScala.toSeq.groupBy { case (st, _) => stageJob.getOrElse(st, -1) }
      rec.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        val st = byJob.getOrElse(j.id, Nil).map(_._2)
        def sum(f: StageAgg => Long) = st.map(f).sum
        out.write("jobs.jsonl", Map("job" -> j.id, "span" -> j.span,
          "start_ns" -> j.start * 1000000L, "end_ns" -> j.end * 1000000L, "ok" -> j.ok,
          "stages" -> st.size, "tasks" -> st.map(_.tasks).sum, "failed_tasks" -> st.map(_.failed).sum,
          "run_ms" -> sum(_.runMs), "cpu_ns" -> sum(_.cpuNs), "gc_ms" -> sum(_.gcMs),
          "shuffle_read_bytes" -> sum(_.shR), "shuffle_write_bytes" -> sum(_.shW),
          "spill_bytes" -> sum(_.spill), "input_bytes" -> sum(_.inB), "input_records" -> sum(_.inR),
          "lanes" -> st.filter(_.lanes > 0).map(s => Seq(s.lanes, s.laneSum, s.laneMax))))
      }
    }
    out.close()
    spark.stop()
  }

  /** Heap in use after full collections. Spark frees broadcast and
    * shuffle blocks from its cleaner thread only once their owners are
    * collected, so collect until the reading stops falling. */
  def retainedHeap(): Long = {
    val rt = Runtime.getRuntime
    def used(): Long = { System.gc(); rt.totalMemory() - rt.freeMemory() }
    var (last, now, rounds) = (Long.MaxValue, used(), 0)
    while (now < last - (1L << 20) && rounds < 8) {
      Thread.sleep(100)
      last = now; now = used(); rounds += 1
    }
    math.min(last, now)
  }

  // ---- dataflow -------------------------------------------------------------

  val Shapes = Seq("narrow", "routed")

  def readInts(path: String): Array[Int] = {
    val b = java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(b.remaining() / 4)(b.getInt())
  }

  /** Order-free (count, checksum) of FizzBuzz records. */
  def mix(fb: FizzBuzz): Long = {
    var h = fb.number.toLong * 0x9E3779B97F4A7C15L ^ fb.word.hashCode.toLong
    h ^= h >>> 31; h *= 0xBF58476D1CE4E5B9L; h ^ (h >>> 29)
  }
  def checksum(it: Iterator[FizzBuzz]): (Long, Long) =
    it.foldLeft((0L, 0L)) { case ((n, s), fb) => (n + 1, s + mix(fb)) }

  /** One pipeline invocation; returns (records out, checksum) as seen at the sink. */
  def runShape(spark: SparkSession, src: Pipeline[FizzyInput], shape: String, lanes: Int): (Long, Long) = {
    import spark.implicits._
    val n = spark.sparkContext.longAccumulator
    val s = spark.sparkContext.longAccumulator
    val tap = (fb: FizzBuzz) => { n.add(1); s.add(mix(fb)); Iterator.single(fb) }
    shape match {
      case "narrow" =>
        src.mapLocal(FizzMapper(_)).mapDispatch(tap).sink()
      case "routed" =>
        val counted = src.mapLocalParallel((in: FizzyInput) => FizzMapper(in).iterator.flatMap(tap),
          lanes)(_.key).sinkCount()
        if (counted != n.value) throw new IllegalStateException(s"sinkCount $counted != tapped ${n.value}")
    }
    (n.value.longValue, s.value.longValue)
  }

  /** Every key of the routed shape reaches exactly one lane. */
  def laneAffinity(spark: SparkSession, src: Pipeline[FizzyInput], lanes: Int): Boolean = {
    import spark.implicits._
    val pairs = src.mapLocalParallel((in: FizzyInput) =>
      Iterator.single((in.key, TaskContext.getPartitionId())), lanes)(_.key).ds
    pairs.distinct().groupBy("_1").count().filter("count > 1").count() == 0
  }
}
