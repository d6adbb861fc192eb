package graft.tools

import graft.core.{Sessions, Tables}
import graft.pipelines.Recipes
import graft.streaming.Streams

/** CLI surface for the flagship pipelines:
  *   runMain graft.tools.RunPipelines recipes <inputDir> <outDir>
  *   runMain graft.tools.RunPipelines streaming <eventsParquetDir>
  *   runMain graft.tools.RunPipelines clinical <landingDir> <workDir>
  */
object RunPipelines {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-pipelines")
    args.headOption match {
      case Some("clinical") =>
        import org.apache.spark.sql.types.StructType
        import graft.pipelines.ClinicalTrial
        val landing = args.lift(1).getOrElse {
          sys.error("clinical needs <landingDir> of *.zip with .xml members")
        }
        val work = args.lift(2).getOrElse(
          java.nio.file.Files.createTempDirectory("graft-clinical").toString)
        val params = ClinicalTrial.Params(
          landingDir = landing,
          stagingDir = s"$work/staging",
          warehouseDir = s"$work/warehouse",
          xmlSchema = StructType.fromDDL(
            "nct_id STRING, title STRING, " +
              "sponsors STRUCT<sponsor: ARRAY<STRUCT<name: STRING>>>"),
          pks = Seq("nct_id"))
        val counts = ClinicalTrial.run(spark, params,
          runSeq = System.currentTimeMillis(),
          transformations = Map(
            "studies" -> "SELECT nct_id, title FROM xmltable",
            "sponsors" -> "SELECT pk_nct_id AS nct_id, name FROM xmltable_sponsors_sponsor"),
          cascadeKeys = Seq(("nct_id", "pk_nct_id")))
        counts.foreach { case (t, n) => println(s"warehouse $t rows=$n -> $work/warehouse/$t") }
      case Some("recipes") =>
        val in = args.lift(1).getOrElse("/root/reference/resources/data/recipes/input")
        val out = args.lift(2).getOrElse(
          java.nio.file.Files.createTempDirectory("graft-recipes").toString)
        Recipes.task1(spark, in, s"$out/task1")
        println(s"task1 rows=${spark.read.parquet(s"$out/task1").count()} -> $out/task1")
        val t2 = Recipes.task2(spark, s"$out/task1", s"$out/task2")
        t2.collect().foreach(r => println(s"task2 ${r.mkString(",")}"))
        println(s"task2 csv -> $out/task2")
      case Some("streaming") =>
        val dir = args.lift(1).getOrElse {
          val d = java.nio.file.Files.createTempDirectory("graft-stream").toString
          Tables.load(spark, "/root/testdata/sf0.001", "events")
            .coalesce(1).write.mode("overwrite").parquet(d)
          d
        }
        val mem = Streams.runToMemory(Streams.tumblingStats(Streams.readEventStream(spark, dir)), "cli_tumbling")
        println(s"streaming tumbling windows rows=${mem.count()}")
        mem.orderBy("window_epoch").show(5, truncate = false)
      case other =>
        System.err.println(s"usage: recipes|streaming, got $other"); sys.exit(2)
    }
    spark.stop()
  }
}
