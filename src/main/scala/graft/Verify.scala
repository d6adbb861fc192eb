package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q78_x,q40_y limits the dump to named queries (same
    // filter as Bench) — local iteration aid; the driver runs the full set.
    // Resolved before the session starts, so a typo fails fast.
    val selected = SparkEntry.selected()
    // The library's canonical session factory, so the correctness dump runs
    // under exactly the engine settings users of Sessions.local get — a
    // hand-rolled builder here had already drifted from it (Kryo, explicit
    // AQE flags), and any future engine-relevant conf would have to be
    // kept in sync by hand across three copies.
    val spark = graft.core.Sessions.local(
      appName = "graft-verify",
      cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4))
    graft.core.Scratch.cleanStale()
    // SPARK_GRAFT_FORCE_TWINS=1 (Gates.forceTwinsFromEnv): every gated
    // operator takes its twin — the suite-level twin gate. The pairwise
    // parity specs prove each twin equals its kernel; this run proves the
    // composed 134-query oracle surface holds when every guard declines at
    // once (the 100 TB posture, where corpora never fit a driver collect).
    if (graft.core.Gates.forceTwinsFromEnv(spark))
      System.err.println("[verify] FORCE_TWINS: all driver-shortcut " +
        "guards set to 0 — declarative fallbacks are primary")
    new java.io.File(outDir).mkdirs()
    // A failing query does not stop the dump: every other query is still
    // written, then the run exits 1 naming the failures.
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonStr(k)}: ${Bench.jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
