package graft.operators

import org.apache.spark.sql.DataFrame

/** The one guard for operator helper columns: an operator that adds a
  * `__`-prefixed working column to a caller's frame fails loudly when
  * an input already has a column of that name (case-insensitive),
  * instead of silently overwriting or dropping the caller's column.
  */
private[graft] object HelperCols {
  def requireAbsent(fn: String, helpers: Seq[String], inputs: DataFrame*): Unit = {
    val hit = inputs.flatMap(_.columns)
      .filter(c => helpers.exists(_.equalsIgnoreCase(c))).distinct
    require(hit.isEmpty,
      s"$fn: input column(s) ${hit.mkString(", ")} use a name reserved for " +
        s"its helper columns (${helpers.mkString(", ")}); rename them first")
  }
}
