package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

/** Layer A tests: known-answer fizzbuzz (the reference's de-facto
  * test, SURVEY.md §5) + the partition-invariance property the
  * reference's lane routing preserves (`maps/maps.go:70-100`). */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  test("fizzbuzz known answer for the first 15 values") {
    val out = Pipeline
      .generatorSource(spark, (1 to 15).map(FizzyInput))
      .mapLocal(FizzMapper.apply)
      .ds.collect().sortBy(_.number).map(_.word)
    assert(out.toSeq === Seq(
      "1", "2", "fizz", "4", "buzz", "fizz", "7", "8", "fizz", "buzz",
      "11", "fizz", "13", "14", "fizzbuzz"))
  }

  test("mapLocalParallel result is invariant to lane count") {
    val in = (0 until 1000).map(FizzyInput)
    def run(lanes: Int): Set[FizzBuzz] = Pipeline
      .generatorSource(spark, in)
      .mapLocalParallel(FizzMapper.apply, lanes)(_.key)
      .ds.collect().toSet
    assert(run(2) === run(7))
    assert(run(2).size === 1000)
  }

  test("mapDispatch ≡ mapLocal (scheduling is non-semantic)") {
    val in = (0 until 100).map(FizzyInput)
    val a = Pipeline.generatorSource(spark, in).mapDispatch(FizzMapper.apply)
      .ds.collect().toSet
    val b = Pipeline.generatorSource(spark, in).mapLocal(FizzMapper.apply)
      .ds.collect().toSet
    assert(a === b)
  }

  test("mapDispatch is exactly-once under task failure + retry") {
    // The reference's defining distributed behavior is per-record
    // retry on worker failure (/root/reference/maps/dispatch.go:80-93);
    // Pipeline.mapDispatch claims Spark task retry subsumes it. This
    // test DEMONSTRATES the claim instead of asserting it: every
    // partition's first task attempt is killed mid-stage (session runs
    // local[4,2] → maxFailures = 2), and the output must contain every
    // record exactly once — at-least-once execution (proven by the
    // probe counting more calls than records), exactly-once results
    // (failed attempts' output discarded by the scheduler).
    RetryProbe.calls.set(0)
    RetryProbe.failures.set(0)
    val in = (0 until 1000).map(FizzyInput)
    val out = Pipeline.generatorSource(spark, in)
      .mapDispatch { x: FizzyInput =>
        RetryProbe.calls.incrementAndGet()
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0) {
          RetryProbe.failures.incrementAndGet()
          throw new RuntimeException(
            s"injected fault: partition ${tc.partitionId()} attempt 0")
        }
        FizzMapper(x)
      }
      .ds.collect()
    assert(RetryProbe.failures.get() >= 1, "fault was never injected")
    assert(RetryProbe.calls.get() > 1000, "no record was ever re-executed")
    assert(out.length === 1000, "output is not exactly-once")
    assert(out.map(_.number).toSet === (0 until 1000).toSet)
  }

  test("flatMap stages fuse: mapLocal∘mapLocal ≡ composed mapper") {
    val in = (0 until 200).map(FizzyInput)
    val dup = (f: FizzBuzz) => Seq(f, f.copy(word = f.word + "!"))
    val staged = Pipeline.generatorSource(spark, in)
      .mapLocal(FizzMapper.apply).mapLocal(dup)
      .ds.collect().toSet
    val fused = Pipeline.generatorSource(spark, in)
      .mapLocal((x: FizzyInput) => FizzMapper(x).flatMap(dup))
      .ds.collect().toSet
    assert(staged === fused)
  }

  test("rangeSource + sinkCount: generator end-of-data closes the stream") {
    assert(Pipeline.rangeSource(spark, 10000L).sinkCount() === 10000L)
  }

  test("generatorSource keeps its rows out of the plan") {
    // A LocalRelation leaf would carry all 100,000 rows through every
    // analyzer and optimizer rule of every query built on the source.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.ExternalRDD
    val plan = Pipeline.generatorSource(spark, (0 until 100000).map(FizzyInput))
      .mapLocal(FizzMapper.apply).ds.queryExecution.analyzed
    assert(plan.collect { case l: LocalRelation => l }.isEmpty,
      "the source's rows are inlined in the plan")
    assert(plan.collect { case r: ExternalRDD[_] => r }.size === 1)
  }

  test("routed sinkCount runs one job fewer than count() and agrees with it") {
    val routed = Pipeline.generatorSource(spark, (0 until 1000).map(FizzyInput))
      .mapLocalParallel(FizzMapper.apply, 4)(_.key)
    val (counted, sinkJobs) = JobFence(spark.sparkContext)(routed.sinkCount())
    val (plain, countJobs) = JobFence(spark.sparkContext)(routed.ds.count())
    assert(counted === 1000L)
    assert(counted === plain)
    assert(sinkJobs === countJobs - 1, s"sinkCount ran $sinkJobs job(s), count() ran $countJobs")
  }

  test("degenerate sources: empty and single-record inputs drain through every sink") {
    for (in <- Seq(Seq.empty[FizzyInput], Seq(FizzyInput(15)))) {
      val seen = spark.sparkContext.longAccumulator
      Pipeline.generatorSource(spark, in)
        .mapLocal { x: FizzyInput => seen.add(1); FizzMapper(x) }
        .sink()
      assert(seen.value === in.size.toLong)
      assert(Pipeline.generatorSource(spark, in)
        .mapLocalParallel(FizzMapper.apply, lanes = 4)(_.key)
        .sinkCount() === in.size.toLong)
    }
  }

  test("sinkParquet round-trips records") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    Pipeline.generatorSource(spark, (1 to 50).map(FizzyInput))
      .mapLocal(FizzMapper.apply)
      .sinkParquet(s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() === 50L)
  }
}

/** JVM-wide probe for the fault-injection test: in local mode the
  * executor shares the test JVM, so static atomics see every task
  * attempt — including failed ones, which accumulators deliberately
  * exclude. */
object RetryProbe {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
  val failures = new java.util.concurrent.atomic.AtomicLong(0)
}
