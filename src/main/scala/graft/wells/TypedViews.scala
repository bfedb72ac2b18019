package graft.wells

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typed projections over the string-typed golden tables (SURVEY.md §1.2).
  *
  * The reference keeps every numeric-looking stimulation field as VARCHAR
  * and the engine preserves that for golden parity; these views add the
  * typed layer: try-cast semantics, null on failure, so `11/E/2013` and
  * `top_ft='9289252'`-style garbage degrade to null instead of erroring —
  * exactly MySQL's permissive-string behavior, made explicit. */
object TypedViews {

  /** Numeric stim columns → BIGINT/DOUBLE, date_simulated → DATE
    * (M/d/yyyy, the reference's only observed format). String originals
    * are preserved under *_raw. */
  def typedStimulation(stim: DataFrame): DataFrame = {
    val longCols = Seq("lbs_proppant", "top_ft", "bottom_ft",
      "stimulation_stages", "max_pressure_psi")
    val doubleCols = Seq("acid_pct", "volume", "max_treatment_rate_bbls_min")
    val withLongs = longCols.foldLeft(stim) { (df, c) =>
      df.withColumnRenamed(c, s"${c}_raw")
        .withColumn(c, expr(s"try_cast(${c}_raw AS BIGINT)"))
    }
    val withDoubles = doubleCols.foldLeft(withLongs) { (df, c) =>
      df.withColumnRenamed(c, s"${c}_raw")
        .withColumn(c, expr(s"try_cast(${c}_raw AS DOUBLE)"))
    }
    withDoubles
      .withColumnRenamed("date_simulated", "date_simulated_raw")
      .withColumn("date_simulated", try_to_timestamp(
        col("date_simulated_raw"), lit("M/d/yyyy")).cast("date"))
  }
}
