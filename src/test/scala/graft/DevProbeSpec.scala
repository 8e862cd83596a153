package graft

import org.scalatest.funsuite.AnyFunSuite

/** DevProbe times cells and writes their plans under Bench's session
  * settings; this pins that the two cannot drift. */
class DevProbeSpec extends AnyFunSuite {

  /** Bench's `.master(...)` and `.config(k, v)` pairs, read from its
    * source with the `cpus` variable bound to `cpus`. */
  private def benchConf(cpus: String): Map[String, String] = {
    val src = scala.io.Source.fromFile("src/main/scala/graft/Bench.scala", "UTF-8")
    val code = try src.getLines().filterNot(_.trim.startsWith("//")).mkString("\n")
      finally src.close()
    def value(v: String): String = v.trim match {
      case "cpus" => cpus
      case s if s.startsWith("s\"") => s.drop(2).dropRight(1).replace("$cpus", cpus)
      case s => s.stripPrefix("\"").stripSuffix("\"")
    }
    val master = """\.master\(([^)]*)\)""".r.findAllMatchIn(code)
      .map(m => "spark.master" -> value(m.group(1))).toSeq
    val pairs = """\.config\(\s*"([^"]+)"\s*,\s*([^)]*)\)""".r.findAllMatchIn(code)
      .map(m => m.group(1) -> value(m.group(2))).toSeq
    (master ++ pairs).toMap
  }

  test("DevProbe's session settings equal Bench's, UTC aside (a Bench launch flag)") {
    for (cpus <- Seq("4", "7")) {
      val probe = DevProbe.settings(cpus)
      assert(probe("spark.sql.session.timeZone") == "UTC")
      assert(probe - "spark.sql.session.timeZone" == benchConf(cpus))
    }
    assert(benchConf("4")("spark.master") == "local[4]")
  }
}
