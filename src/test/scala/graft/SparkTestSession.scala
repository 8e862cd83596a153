package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (guide: one
  * SparkSession per suite; sharing across suites is safe because the
  * config is identical). `local[4,2]` (not plain `local[4]`) enables
  * task retry (maxFailures = 2) like a real cluster (default 4) —
  * required by PipelineSpec's fault-injection test and harmless
  * elsewhere: a genuinely failing task still fails the job on its
  * second attempt. */
object SparkTestSession {
  lazy val get: SparkSession = {
    // FAIR scheduling with two capability lanes (vector: weighted +
    // guaranteed cores; decode: best-effort) for CapabilityRoutingSpec.
    // Unpooled jobs land in the implicit "default" pool, so every
    // other suite schedules exactly as before.
    val alloc = graft.pipeline.CapabilityRouting.writeAllocationsFile(Seq(
      graft.pipeline.PoolSpec("vector", weight = 2, minShare = 2),
      graft.pipeline.PoolSpec("decode", weight = 1, minShare = 0)))
    val s = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", alloc)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Runs `body` and returns its value with the number of Spark jobs it
  * started. The listener bus is async, so those jobs are bracketed by
  * two fence jobs: every job the listener sees between them ran inside
  * `body`. */
object JobFence {
  def apply[A](sc: SparkContext)(body: => A): (A, Int) = {
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.put(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def fence(tag: String): Int = {
      sc.setJobGroup(tag, tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var (before, g) = (0, groups.poll(60, TimeUnit.SECONDS))
      while (g != tag) {
        assert(g != null, s"fence job $tag never reached the listener")
        before += 1
        g = groups.poll(60, TimeUnit.SECONDS)
      }
      before
    }
    sc.addSparkListener(listener)
    try {
      fence("job-fence-open")
      val a = body
      (a, fence("job-fence-close"))
    } finally sc.removeSparkListener(listener)
  }
}
