package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Zip/binary ingestion (SURVEY.md §2.1 S8): archives land as opaque binary
  * files, members are extracted **on executors** inside `mapPartitions` —
  * the archive bytes never cross a shuffle and never collect to the driver
  * (the reference unzips driver-side from (path, bytes) pairs,
  * reference: utils/Utilities.py:184-236).
  *
  * Member filtering (prefix / suffix / contains) happens during the streamed
  * extraction, so non-matching members are skipped without materializing
  * their bytes.
  */
object ZipIngest {

  final case class ZipMember(archive: String, member: String, sizeBytes: Long,
                             content: Array[Byte])

  /** Name predicate combinator mirroring the reference's prefix/suffix/
    * contains filters (Utilities.py:203-218). Empty criteria match all. */
  final case class NameFilter(prefix: Option[String] = None,
                              suffix: Option[String] = None,
                              contains: Option[String] = None) extends Serializable {
    def matches(name: String): Boolean =
      prefix.forall(name.startsWith) && suffix.forall(name.endsWith) &&
        contains.forall(name.contains)
  }

  private def extract(archive: String, bytes: Array[Byte],
                      filter: NameFilter): Iterator[ZipMember] = {
    val out = ArrayBuffer.empty[ZipMember]
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory && filter.matches(e.getName)) {
          // sizeBytes from the MATERIALIZED content, not e.getSize: the
          // header size is -1 for streaming (data-descriptor) zips —
          // including archives writeZipMembers itself produces — because
          // ZipInputStream only learns the size AFTER the entry is read.
          val content = zin.readAllBytes()
          out += ZipMember(archive, e.getName, content.length.toLong, content)
        }
        zin.closeEntry()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.iterator
  }

  /** All matching members of every archive under `dir`, extracted
    * executor-side. One task per archive split — at scale, small-archive
    * skew is handled by binaryFile's own file packing. */
  def readZipMembers(spark: SparkSession, dir: String,
                     filter: NameFilter = NameFilter()): Dataset[ZipMember] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.zip")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (p, b) => extract(p, b, filter) })
  }

  /** Member names only (reference: get_file_names_in_zip) — content bytes
    * are still streamed but dropped immediately, no row carries them. */
  def listZipMembers(spark: SparkSession, dir: String): DataFrame =
    readZipMembers(spark, dir).select("archive", "member", "sizeBytes").toDF()

  /** Inverse of [[readZipMembers]]: pack (archive, member, content) rows
    * into one `.zip` file per archive key under `dir`. Archives are built
    * executor-side (one `mapGroups` shuffle on the archive key) and written
    * through the Hadoop FileSystem API, so the path works unchanged against
    * file://, hdfs:// or s3a://. Members are sorted by name and entry
    * timestamps pinned to epoch, so an archive's bytes are a pure function
    * of its rows. Each archive is assembled in executor memory — callers
    * size the archive key so one archive stays well under task memory
    * (same bound the extract path already implies). */
  def writeZipMembers(df: DataFrame, dir: String, archiveCol: Column,
                      memberCol: Column, contentCol: Column): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    df.select(archiveCol.cast("string").as("archive"),
        memberCol.cast("string").as("member"),
        contentCol.cast("binary").as("content"))
      .as[(String, String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (arch, it) =>
        val bos = new ByteArrayOutputStream()
        val zout = new ZipOutputStream(bos)
        it.toSeq.sortBy(_._2).foreach { case (_, m, c) =>
          val e = new ZipEntry(m)
          e.setTime(0L)
          zout.putNextEntry(e)
          zout.write(c)
          zout.closeEntry()
        }
        zout.close()
        (s"$arch.zip", bos.toByteArray)
      }
      .foreachPartition { (it: Iterator[(String, Array[Byte])]) =>
        // The session's Hadoop conf (spark.hadoop.* credentials, s3a
        // endpoints), not a fresh Configuration() that would only see
        // core-default.xml on the executor.
        val conf = serConf.value
        it.foreach { case (name, bytes) =>
          val p = new org.apache.hadoop.fs.Path(dir, name)
          val os = p.getFileSystem(conf).create(p, true)
          try os.write(bytes) finally os.close()
        }
      }
  }

  /** Text members decoded to (archive, member, line) rows — the zip-to-
    * DataFrame path the reference's zip_extract_read_files provides. */
  def readZipText(spark: SparkSession, dir: String,
                  filter: NameFilter = NameFilter(),
                  charset: String = "UTF-8"): DataFrame = {
    import spark.implicits._
    readZipMembers(spark, dir, filter)
      .flatMap(m => new String(m.content, charset).linesIterator
        .map(l => (m.archive, m.member, l)))
      .toDF("archive", "member", "line")
  }
}
