package graft.builds

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** stage.mcaid_claim — the master Medicaid claim-line staging load
  * (load_stage.mcaid_claim.R:104-127, incremental path):
  *
  *  - `date_truncate` = MIN(date_var) of the incoming batch (:45-48);
  *  - archive rows strictly BEFORE the truncate date are kept as-is;
  *  - incoming rows on/after it (every row with a date, since the MIN
  *    is taken over the batch itself) get the derived columns:
  *    `clndr_year_mnth` = YEAR*100 + MONTH of the first service date,
  *    and `clm_line` = the last 3 digits of the line TCN cast to int
  *    (:113-117);
  *  - the two branches combine under UNION (distinct), so a row present
  *    in both the archive tail and the re-delivered batch, or delivered
  *    twice in the batch, lands once.
  *
  * Spark-first notes: the scalar MIN is a 1-row aggregate CROSS-JOINed
  * (broadcast) onto the archive scan instead of a driver round-trip, so
  * the whole load is one lazy plan; the UNION's DISTINCT is the single
  * wide exchange, exactly the output grain. The reference's
  * archive-swap DDL (sp_rename dance, :60-89) is table management, not
  * data semantics — [[graft.sources.LoadTable.incrementalRefresh]]
  * covers the write-side equivalent.
  */
object McaidClaimStage {

  /** @param archive  prior stage rows, already carrying clndr_year_mnth
    *                 and clm_line
    * @param incoming raw batch rows: mbr_h_sid, medicaid_recipient_id,
    *                 baby_on_mom_ind, tcn, clm_line_tcn + payload
    *                 (from_srvc_date, ...)
    * @param dateVar  the truncate column (config etl date_var)
    */
  def build(archive: DataFrame, incoming: DataFrame,
      dateVar: String): DataFrame = {
    val cut = incoming.agg(min(col(dateVar)).as("date_truncate"))
    // an EMPTY incoming batch has MIN = NULL; `date < NULL` would drop
    // the whole archive — a no-op delivery must keep history unchanged
    val kept = archive
      .crossJoin(broadcast(cut))
      .filter(col(dateVar) < col("date_truncate") ||
        col("date_truncate").isNull)
      .drop("date_truncate")
    // incoming rows on/after the truncate date: all those with a date
    val fresh = incoming.filter(col(dateVar).isNotNull)
    val idCols = Set("mbr_h_sid", "medicaid_recipient_id",
      "baby_on_mom_ind", "tcn", "clm_line_tcn")
    val freshCols = Seq(
      (year(col("from_srvc_date")) * 100 + month(col("from_srvc_date")))
        .cast("int").as("clndr_year_mnth"),
      col("mbr_h_sid"), col("medicaid_recipient_id"),
      col("baby_on_mom_ind"), col("tcn"), col("clm_line_tcn"),
      substring(col("clm_line_tcn"), -3, 3).cast("int")
        .as("clm_line")) ++
      fresh.columns.filterNot(idCols.contains).map(col)
    val freshDerived = fresh.select(freshCols: _*)
    kept.select(freshDerived.columns.map(col): _*)
      .union(freshDerived).distinct()
  }
}
