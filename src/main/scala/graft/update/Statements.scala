package graft.update

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Upsert-statement construction — the reference's only expression-
  * evaluation step (reference: src/func/mongo.py:28-100).
  *
  * The guard ladder is written once, in [[widen]], as row-level column
  * predicates instead of per-row None returns (mongo.py:46-57, :96-100):
  *  1. null key → dropped;
  *  2. every payload field null after the `double` cast → dropped (the
  *     statement would have nothing to `$set`);
  *  3. payload fields are cast to double (the reference schema's payload
  *     type);
  *  4. `passthrough` columns (e.g. an arrival-order column for the sink's
  *     duplicate-key fold) ride along unchanged.
  * All of it is plain codegen'd column expressions — no UDF, no
  * higher-order function, no driver-side loop. A null field in a kept
  * row means "leave the stored value" (null-skip, mongo.py:60-63), which
  * the merge sink's coalesce implements.
  */
object Statements {

  /** The statements in sink shape: `idColumn`, one double column per
    * field, then the passthrough columns, with the ladder's drops applied.
    * A passthrough column that is the key or a field is already in the
    * output and is not repeated. */
  def widen(updates: DataFrame, idColumn: String, fields: Seq[String],
            passthrough: Seq[String] = Nil): DataFrame = {
    require(fields.nonEmpty, "empty field list — nothing to $set (mongo.py:52-57)")
    val cast = fields.map(f => col(f).cast("double"))
    val extra = passthrough.distinct.filterNot(c => c == idColumn || fields.contains(c))
    updates
      .filter(col(idColumn).isNotNull &&                     // missing key → drop (mongo.py:46-50)
        cast.map(_.isNotNull).reduce(_ || _))                // nothing non-null → drop (mongo.py:96-100)
      .select(col(idColumn) +:
        fields.zip(cast).map { case (f, c) => c.as(f) } ++:
        extra.map(col): _*)
  }

  /** The statements in the reference's `(key, set_fields)` shape, where
    * `set_fields` maps each non-null payload field to its value — the
    * same ladder as [[widen]], packed into a map. */
  def build(updates: DataFrame, idColumn: String, fields: Seq[String],
            passthrough: Seq[String] = Nil): DataFrame = {
    val kv = fields.flatMap(f => Seq(lit(f), col(f)))
    widen(updates, idColumn, fields, passthrough)
      .select(
        col(idColumn).as("key") +:
        map_filter(map(kv: _*), (_, v) => v.isNotNull).as("set_fields") +:
        passthrough.map(col): _*)
  }
}
