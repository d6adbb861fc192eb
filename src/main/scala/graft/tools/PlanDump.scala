package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the committed plan evidence under plans/r12/.
  *
  * Usage: sbt "runMain graft.tools.PlanDump <outDir> <suffix> <query ...>"
  * (suffix = "before" | "after"). AQE disabled so the static plan shape
  * (exchanges, join strategies, codegen spans) is visible; the bench runs
  * with AQE on, which only coalesces/re-plans at runtime.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query ...>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    // An unknown query name throws here, before the session starts.
    val selected = SparkEntry.selected(Some(args.drop(2).mkString(",")))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional session confs (r13), e.g. gate keys, so BOTH sides of a
    // size-gated shape can be dumped from one tree:
    // SPARK_GRAFT_CONF="spark.graft.corpus.tfSmallInputMaxBytes=0"
    // (comma-separated k=v pairs; values containing commas aren't
    // supported — none of the gate keys need them). A malformed entry
    // fails the run: dumping plans without the conf asked for would
    // label the default shape as the gated one.
    val confs = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2).map(_.trim) match {
          case Array(k, v) if k.nonEmpty => k -> v
          case _ => throw new IllegalArgumentException(
            s"malformed SPARK_GRAFT_CONF entry (want key=value): $kv")
        }
      }
    val spark = graft.core.Sessions.local("plan-dump",
      extraConf = Map("spark.sql.adaptive.enabled" -> "false"))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    selected.foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      val f = outDir.resolve(s"${name}_$suffix.txt")
      java.nio.file.Files.write(f, plan.getBytes("UTF-8"))
      println(s"wrote $f (${plan.length} chars)")
    }
    spark.stop()
  }
}
