package graft

// Dev probe — time named SparkEntry queries in Bench's session
// settings and warm-up discipline without paying for the whole suite,
// and keep each query's plan. A dev tool, not one of the Bench or
// Verify mains.
//   usage: [SPARK_GRAFT_CPUS=n] graft.DevProbe <sfDir> <queryName>...
// Each query runs twice after a warm-up: r1 builds every family memo
// it serves, r2 serves them. After r2 the formatted plan of r2's
// DataFrame goes to target/devprobe/<queryName>.txt.
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

object DevProbe {
  /** Bench's session settings for `cpus` cores: its `.master` and
    * `.config` pairs, plus the UTC session time zone Bench gets from
    * its launch flags. DevProbeSpec compares them with Bench.scala. */
  private[graft] def settings(cpus: String): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "67108864",
    "spark.sql.session.timeZone" -> "UTC")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.tail.toSeq else Seq("q62_dedup_clusters")
    // Validate names BEFORE paying for session startup — a typo should
    // cost a usage line, not a Spark boot + NoSuchElementException.
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown quer${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
      System.err.println("valid names:\n  " + SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val builder = SparkSession.builder()
    settings(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"${(System.nanoTime() - t0) / 1e9}%7.2f  $label"); r
    }
    def drain(): Unit = {
      graft.functions.CacheScope.drain(); graft.functions.CacheScope.drainCheckpoints()
    }
    val planDir = new java.io.File("target/devprobe")
    planDir.mkdirs()
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val warmDir = WarmDir.of(sfDir)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      try fn(spark, warmDir).count() catch {
        case t: Throwable => System.err.println(s"[probe] warm-up failed for $n: $t")
      }
      drain(); spark.catalog.clearCache()
      // r1 is a cold build: with every memo released (relations AND
      // driver values — clearCache alone frees neither the entries nor
      // the values), r1 builds each memo the query serves. r2 then
      // serves them, as Bench's timed run does after its prebuild.
      graft.functions.FamilyIndex.release(spark)
      time(s"$n r1")(fn(spark, sfDir).count())
      drain()
      val df = fn(spark, sfDir)
      time(s"$n r2")(df.count())
      val plan = new java.io.File(planDir, s"$n.txt")
      java.nio.file.Files.writeString(plan.toPath,
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      println(s"         plan: ${plan.getPath}")
      drain()
    }
    spark.stop()
  }
}
