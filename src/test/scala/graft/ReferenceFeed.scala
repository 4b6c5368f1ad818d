package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import graft.sources.GraftTable

/** The whole-snapshot change feed and diff that `GraftTable.changes` and
  * `GraftTable.diff` replaced, kept as the specs' reference: built only
  * from `readAsOf`/`schemaAsOf`, so it depends on nothing the manifest
  * plan does. Its cost is (span + 1) snapshots.
  */
object ReferenceFeed {

  /** Every snapshot in [vA, vB] tagged with its version and windowed per
    * key in version order: a row's previous presence (lag) and whether a
    * next one exists (lead) give the per-step verdicts.
    */
  def changes(t: GraftTable, key: String, vA: Int, vB: Int): DataFrame = {
    require(vA < vB, s"need vA < vB, got ($vA, $vB)")
    val verSchemas = (vA to vB).map(v => v -> t.schemaAsOf(v))
    val types: Map[String, DataType] = verSchemas
      .flatMap(_._2.fields.map(f => f.name -> f.dataType)).toMap
    val firstPair = (verSchemas(0)._2.fieldNames ++
      verSchemas(1)._2.fieldNames).distinct.filterNot(_ == key).toSeq
    val laterCols = verSchemas.drop(2)
      .flatMap(_._2.fieldNames).distinct
      .filterNot(c => c == key || firstPair.contains(c))
    val cols = firstPair ++ laterCols
    val tagged = verSchemas.map { case (v, sch) =>
      val present = sch.fieldNames.toSet
      t.readAsOf(v).select(col(key) +: lit(v).as("_ref_v") +:
        cols.map(c =>
          (if (present(c)) col(c)
           else lit(null).cast(types(c))).as(c)): _*)
    }.reduce(_.unionByName(_))
    val w = Window.partitionBy(key).orderBy("_ref_v")
    val pay = struct(cols.map(col): _*)
    val v = col("_ref_v")
    val pv = col("_ref_pv")
    val pp = col("_ref_pp")
    val nv = col("_ref_nv")
    val changed = cols.map(c => !(col(c) <=> pp.getField(c)))
      .reduceOption(_ || _).getOrElse(lit(false))
    def ev(ct: String, cv: Column, p: Column) = struct(
      lit(ct).as("ct"), cv.cast("int").as("cv"), p.as("p"))
    val emit = array(
      when(pv.isNull && v > vA, ev("insert", v, pay)),
      when(pv.isNotNull && pv === v - 1 && changed,
        ev("update_preimage", v, pp)),
      when(pv.isNotNull && pv === v - 1 && changed,
        ev("update_postimage", v, pay)),
      when(pv.isNotNull && pv < v - 1, ev("delete", pv + 1, pp)),
      when(pv.isNotNull && pv < v - 1, ev("insert", v, pay)),
      when(nv.isNull && v < vB, ev("delete", v + 1, pay)))
    tagged
      .withColumn("_ref_pv", lag("_ref_v", 1).over(w))
      .withColumn("_ref_pp", lag(pay, 1).over(w))
      .withColumn("_ref_nv", lead("_ref_v", 1).over(w))
      .select(col(key), explode(array_compact(emit)).as("_ref_e"))
      .select(col(key) +:
        (firstPair.map(c => col(s"_ref_e.p.$c").as(c)) ++
          Seq(col("_ref_e.ct").as("_change_type"),
              col("_ref_e.cv").as("_commit_version")) ++
          laterCols.map(c => col(s"_ref_e.p.$c").as(c))): _*)
  }

  /** One full-outer join of the two whole snapshots on the key. */
  def diff(t: GraftTable, key: String, vA: Int, vB: Int): DataFrame = {
    val aCols = t.schemaAsOf(vA).fields.map(f => f.name -> f.dataType)
    val bCols = t.schemaAsOf(vB).fields.map(f => f.name -> f.dataType)
    val types = (aCols ++ bCols).toMap
    val cols = (aCols.map(_._1) ++ bCols.map(_._1))
      .distinct.filterNot(_ == key).toSeq
    def side(v: Int, names: Array[(String, DataType)], tag: String) = {
      val present = names.map(_._1).toSet
      t.readAsOf(v).select(
        (col(key) +: lit(true).as(s"_ref_in_$tag") +:
          cols.map(c =>
            (if (present(c)) col(c)
             else lit(null).cast(types(c))).as(s"${tag}_$c"))): _*)
    }
    val changed = cols.map(c => !(col(s"a_$c") <=> col(s"b_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    side(vA, aCols, "a").join(side(vB, bCols, "b"), Seq(key), "full_outer")
      .withColumn("op",
        when(col("_ref_in_b").isNull, "D")
          .when(col("_ref_in_a").isNull, "I")
          .otherwise("U"))
      .filter(col("_ref_in_a").isNull || col("_ref_in_b").isNull ||
        changed)
      .drop("_ref_in_a", "_ref_in_b")
  }
}
