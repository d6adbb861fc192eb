package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StandardizeSpec extends SparkSpec {

  test("messy names standardize (FIXTURES.md §9)") {
    import spark.implicits._
    val df = Seq((1, "a", "b")).toDF("cateGory ", " iD ", "category description")
    assert(Standardize.standardizeColumnNames(df).columns.toSeq ==
      Seq("category", "id", "category_description"))
  }

  test("snakeCase handles camel, pascal, acronyms") {
    assert(Standardize.snakeCase("camelCase") == "camel_case")
    assert(Standardize.snakeCase("PascalCase") == "pascal_case")
    assert(Standardize.snakeCase("HTTPServer") == "http_server")
    assert(Standardize.snakeCase("already_snake") == "already_snake")
    assert(Standardize.snakeCase("with space-dash") == "with_space_dash")
  }

  test("sortColumns orders the projection") {
    import spark.implicits._
    val df = Seq((1, 2, 3)).toDF("c", "a", "b")
    assert(Standardize.sortColumns(df).columns.toSeq == Seq("a", "b", "c"))
    assert(Standardize.sortColumns(df, ascending = false).columns.toSeq == Seq("c", "b", "a"))
  }
}

class ReadWriteSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-io").toString

  test("round-trip through every self-describing format") {
    val df = graft.core.Tables.load(spark, sf, "region")
    for (ft <- Seq(FileType.Parquet, FileType.Orc, FileType.Json)) {
      val path = s"$tmp/rt_${ft.toString.toLowerCase}"
      DataWriter.write(df, ft, path)
      val back = DataReader.read(spark, ft, path)
      assert(back.count() == df.count(), s"round-trip $ft")
    }
  }

  test("csv round-trip with header and inferSchema") {
    val df = graft.core.Tables.load(spark, sf, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DataWriter.write(df, FileType.Csv, s"$tmp/rt_csv")
    val back = DataReader.read(spark, FileType.Csv, s"$tmp/rt_csv")
    assert(back.count() == df.count())
    assert(back.schema("n_nationkey").dataType.typeName == "integer")
  }

  test("xml round-trip via Spark 4 native source") {
    val df = graft.core.Tables.load(spark, sf, "region")
    DataWriter.write(df, FileType.Xml, s"$tmp/rt_xml",
      options = Map("rowTag" -> "region", "rootTag" -> "regions"))
    val back = DataReader.read(spark, FileType.Xml, s"$tmp/rt_xml",
      options = Map("rowTag" -> "region"))
    assert(back.count() == df.count())
  }

  test("text read yields a single `line` column") {
    Files.writeString(java.nio.file.Paths.get(s"$tmp/t.txt"), "one\ntwo\n")
    val df = DataReader.read(spark, FileType.Text, s"$tmp/t.txt")
    assert(df.columns.toSeq == Seq("line") && df.count() == 2)
  }

  test("unknown filetype fails loudly") {
    intercept[IllegalArgumentException](FileType.fromString("avro-ish"))
  }

  test("dynamic partition overwrite replaces only the touched partitions") {
    import spark.implicits._
    val path = s"$tmp/dyn_overwrite"
    val v1 = Seq(("a", 1), ("a", 2), ("b", 10)).toDF("part", "v")
    DataWriter.write(v1, FileType.Parquet, path, partitionBy = Seq("part"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // overwrite ONLY partition a; b must survive (static mode would drop it)
      DataWriter.write(Seq(("a", 99)).toDF("part", "v"), FileType.Parquet,
        path, partitionBy = Seq("part"))
      val back = spark.read.parquet(path)
        .collect().map(r => r.getAs[String]("part") -> r.getAs[Int]("v")).sorted
      assert(back.toSeq == Seq("a" -> 99, "b" -> 10))
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
  }

  test("salted repartition spreads a hot key and drops the salt column") {
    import spark.implicits._
    val skewed = Seq.fill(1000)("hot").toDF("k")
    val out = RepartitionPolicy(skewed, RepartitionPolicy.Salted(Seq("k"), 8, Some(8)))
    assert(!out.columns.contains("__graft_salt"))
    val parts = out.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(parts.count(_ > 0) > 1, s"hot key should span >1 partition, got ${parts.toSeq}")
  }

  test("saltedKey keeps the key prefix and appends a salt in [0, buckets)") {
    import spark.implicits._
    val keys = Seq.tabulate(200)(i => (s"k$i", i % 3)).toDF("a", "b")
      .select(col("a"), col("b"),
        graft.functions.ColumnOps.saltedKey(5, col("a"), col("b")).as("key"))
      .collect()
    assert(keys.length == 200)
    keys.foreach { r =>
      val prefix = s"${r.getString(0)}~${r.getInt(1)}~"
      val key = r.getString(2)
      assert(key.startsWith(prefix), s"key prefix lost: $key")
      val salt = key.stripPrefix(prefix).toInt
      assert(salt >= 0 && salt < 5, s"salt out of range: $key")
    }
  }
}
