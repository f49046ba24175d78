package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Pins the planner policy every graft session runs with, and keeps the
  * benchmark's own session (graftbench/, which builds it without this
  * module) from drifting away from it.
  */
class SessionSpec extends SparkSpec {

  test("Session.build carries the graft planner policy") {
    val s = Session.build("4")
    val c = s.conf
    assert(s.sparkContext.master == "local[4]")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(c.get("spark.sql.adaptive.enabled") == "true")
    assert(c.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(c.get("spark.sql.join.preferSortMergeJoin") == "false")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("graftbench's session sets every spark.sql.* value Session sets") {
    val src = new String(Files.readAllBytes(
      Paths.get("graftbench/src/main/scala/graftbench/Main.scala")), UTF_8)
    // `.config("key", "literal")` or `.config("key", identifier)`
    val configCall =
      """\.config\(\s*"(spark\.sql\.[^"]+)"\s*,\s*(?:"([^"]*)"|(\w+))\s*\)""".r
    val bench = configCall.findAllMatchIn(src).map { m =>
      m.group(1) -> Option(m.group(2)).getOrElse(m.group(3))
    }.toMap
    assert(bench.nonEmpty, "no .config(\"spark.sql.…\", …) calls found")
    // Main passes its `cpus` argument where Session passes its own
    Session.sqlConfs("cpus").foreach { case (k, v) =>
      assert(bench.get(k).contains(v),
        s"graftbench Main sets $k to ${bench.getOrElse(k, "nothing")}, " +
          s"Session to $v")
    }
  }
}
