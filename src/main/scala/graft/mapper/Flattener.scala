package graft.mapper

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Recursive nested-type flattener: any DataFrame with struct / array-of-
  * struct / array-of-scalar columns (to arbitrary depth) becomes an ordered
  * map of flat child DataFrames linked by surrogate keys, plus an xpath list
  * for lineage.
  *
  * Re-expresses the reference's SQL-string generator (reference:
  * src/com/vitthalmirji/mapper/Mapper.py:61-197 — `LATERAL VIEW INLINE` /
  * `EXPLODE` text with fragile `split('AS')` alias surgery) as structured
  * plan construction: each view is a real DataFrame built from
  * `inline` / `explode` generator expressions, so aliases are (expr, name)
  * pairs and name collisions are resolved deterministically by prefixing —
  * never by string surgery (SURVEY.md §7.4).
  *
  * Surrogate keys: `monotonically_increasing_id()` per view level, exactly
  * like the reference (Mapper.py:86-176). These are stable only within one
  * lineage/run — children must be joined to parents within the same job
  * (the reference relies on the same property). For reproducible keys across
  * runs use [[withZipIndexKey]] (the reference's zipWithIndex variant,
  * Mapper.py:15-23) or content-derived keys.
  */
object Flattener {

  final case class FlattenResult(views: mutable.LinkedHashMap[String, DataFrame],
                                 xpaths: Seq[String])

  private def isComplex(dt: DataType): Boolean = dt match {
    case _: StructType | _: ArrayType | _: MapType => true
    case _ => false
  }

  /** Deterministic child-column naming: plain sub-names unless one
    * collides with an inherited key, the child's surrogate id, or an
    * earlier sibling, else `<field>_<sub>` — and LOUD when even the
    * prefixed name collides (a sibling literally named `<field>_<sub>`),
    * which previously produced a duplicate column that blew up only at
    * the caller's next ambiguous reference. */
  private def assignNames(subs: Seq[String], field: String,
                          taken0: Set[String]): Seq[String] = {
    var taken = taken0
    subs.map { sub =>
      val n = if (taken.contains(sub)) s"${field}_$sub" else sub
      require(!taken.contains(n),
        s"flatten: child column '$n' (from field '$field.$sub') collides " +
          "with an inherited key or sibling even after prefixing; rename " +
          "the source field")
      taken += n
      n
    }
  }

  /** Flatten `df` into views named `<root>`, `<root>_<field>`, ... Each view
    * holds: inherited cascade keys, the parent's surrogate id, its own
    * surrogate id, and the level's scalar columns. `cascadeKeys` are
    * (column-path, alias) pairs propagated from the root to every leaf view
    * (reference: columns_cascade_to_leaf_level, Mapper.py:167-197).
    */
  def flatten(df: DataFrame, rootName: String,
              cascadeKeys: Seq[(String, String)] = Nil): FlattenResult = {
    val views = mutable.LinkedHashMap.empty[String, DataFrame]
    val xpaths = mutable.ArrayBuffer.empty[String]

    // Root: surrogate id + cascade key aliases. An alias naming an
    // EXISTING top-level column is only legal when it IS that column
    // (the natural `("id", "id")` cascade) — then the column rides along
    // under col("*") and adding the alias again would create an
    // ambiguous duplicate; an alias shadowing a DIFFERENT column is
    // refused loudly.
    cascadeKeys.foreach { case (path, alias) =>
      require(path == alias || !df.columns.contains(alias),
        s"flatten: cascade alias '$alias' (for path '$path') collides " +
          "with an existing root column; pick a different alias")
    }
    val rootKeys = cascadeKeys
      .filterNot { case (path, alias) =>
        path == alias && df.columns.contains(alias) }
      .map { case (path, alias) => col(path).as(alias) }
    val root = df.select((col("*") +: rootKeys) :+
      monotonically_increasing_id().as(s"surrogate_id_$rootName"): _*)

    def recurse(cur: DataFrame, name: String, path: String,
                inheritedKeys: Seq[String]): Unit = {
      xpaths += path
      val complex = cur.schema.fields.filter(f => isComplex(f.dataType))
      // `_`-joined view names are not injective (struct `a` field `b` and
      // a sibling column literally named `a_b` both map to `<root>_a_b`);
      // a silent overwrite here LOST the earlier child table while xpaths
      // still listed both paths.
      require(!views.contains(name),
        s"flatten: two distinct paths map to the view name '$name' " +
          "(`_`-joined names collide); rename one of the source fields")
      // This level's flat view: everything except complex columns.
      views(name) = cur.drop(complex.map(_.name): _*)

      complex.foreach { f =>
        val childViewName = s"${name}_${f.name}"
        val keyCols = inheritedKeys.map(col)
        val sidName = s"surrogate_id_$childViewName"
        val sid = monotonically_increasing_id().as(sidName)
        val taken = inheritedKeys.toSet + sidName
        val child: DataFrame = f.dataType match {
          case st: StructType =>
            val names = assignNames(st.fields.map(_.name).toSeq, f.name, taken)
            val subs = st.fields.zip(names).map { case (sf, n) =>
              col(s"${f.name}.${sf.name}").as(n) }
            cur.select(keyCols ++ subs :+ sid: _*)
          case ArrayType(st: StructType, _) =>
            // The reference's LATERAL VIEW INLINE, expressed as explode to a
            // temp struct then getField expansion — same plan after Catalyst
            // (ExtractGenerator + ColumnPruning), but immune to name clashes
            // between struct fields and inherited keys.
            val exploded = cur.select(keyCols :+ explode(col(f.name)).as("__elem"): _*)
            val names = assignNames(st.fields.map(_.name).toSeq, f.name, taken)
            val renames = st.fields.zip(names).map { case (sf, n) =>
              col(s"__elem.${sf.name}").as(n) }
            exploded.select(keyCols ++ renames :+ sid: _*)
          case ArrayType(_, _) =>
            cur.select(keyCols :+ explode(col(f.name)).as(
              assignNames(Seq("value"), f.name, taken).head) :+ sid: _*)
          case _: MapType =>
            cur.select(keyCols ++ Seq(
              explode(col(f.name)).as(
                assignNames(Seq("key", "value"), f.name, taken))) :+ sid: _*)
          case other =>
            throw new IllegalStateException(s"Unexpected complex type $other")
        }
        recurse(child, childViewName, s"$path/${f.name}",
          inheritedKeys :+ s"surrogate_id_$childViewName")
      }
    }

    val rootInherited = cascadeKeys.map(_._2) :+ s"surrogate_id_$rootName"
    recurse(root, rootName, s"/$rootName", rootInherited)
    FlattenResult(views, xpaths.toSeq)
  }

  /** Register every generated view as a temp view in dependency order
    * (reference: clinical_trial_etl.py:219-223). */
  def registerViews(result: FlattenResult): Unit =
    result.views.foreach { case (name, v) => v.createOrReplaceTempView(name) }

  /** Deterministic surrogate key via zipWithIndex + offset, prepended as a
    * LongType column (reference parity: Mapper.py:15-23). Unlike
    * monotonically_increasing_id, keys are dense and reproducible for a
    * fixed partitioning — but zipWithIndex costs an extra job to count
    * partition sizes; prefer it only when key stability matters. */
  def withZipIndexKey(df: DataFrame, keyCol: String, offset: Long = 0L): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(StructField(keyCol, LongType, nullable = false) +: df.schema.fields)
    val rows = df.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq((i + offset) +: r.toSeq)
    }
    spark.createDataFrame(rows, schema)
  }
}
