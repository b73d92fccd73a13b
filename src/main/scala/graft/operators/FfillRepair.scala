package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Forward-fill and id-repair operators (SURVEY.md §2.5 W2/W3).
  *
  * The reference repairs non-numeric transaction ids with
  * `pd.to_numeric(errors='coerce')` + `ffill()` + `+1`
  * (cleaning.py:554-569). That is order-dependent; here the order is an
  * explicit column.
  *
  * Scale: a naive global-order ffill is a one-partition window — the
  * whole dataset funnels through a single task. Both operators run the
  * distributed [[PrefixScan]] instead (its `Last` accumulator), which
  * reproduces the global window exactly under its order-key contract.
  */
object FfillRepair {

  /** W2 — pandas ffill(): last non-null value up to the current row.
    * With `partitionBy` the fill restarts per group (one parallel window);
    * without it, the scalable global [[PrefixScan]]. */
  def ffill(df: DataFrame, c: String, orderCol: String,
            partitionBy: Seq[String] = Nil): DataFrame =
    if (partitionBy.nonEmpty) {
      val w = Window.partitionBy(partitionBy.map(col): _*).orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    } else {
      PrefixScan(df, orderCol, PrefixScan.Last(col(c), c, inclusive = true))
    }

  /** W3 — id repair with the reference's exact quirk: every non-numeric id
    * becomes (previous NUMERIC id) + 1, so CONSECUTIVE bad rows get the SAME
    * repaired id (cleaning.py:566-569 — ffill runs over the coerced column,
    * not the repaired one). Seed fills leading bad rows (reference: max-id
    * fallback 40000, cleaning.py:560-564). */
  def repairIds(df: DataFrame, idCol: String, orderCol: String,
                seed: Long = 40000L, out: String = "id_repaired"): DataFrame = {
    val numeric = when(col(idCol).rlike("^[0-9]+$"), col(idCol).cast(LongType))
    PrefixScan(df, orderCol, PrefixScan.Last(numeric, "_ffill_prev", inclusive = false))
      .withColumn(out,
        when(numeric.isNotNull, numeric)
          .otherwise(coalesce(col("_ffill_prev"), lit(seed)) + 1))
      .drop("_ffill_prev")
  }
}
