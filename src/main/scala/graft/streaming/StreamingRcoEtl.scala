package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Rco
import graft.pipeline.RcoEtl
import graft.sinks.ParquetSinks

/** Continuous RCO ETL: the batch pipeline ([[RcoEtl.runReleasable]] +
  * [[RcoEtl.load]]) driven by a stream of raw events, one site.
  *
  * The reference is incremental batch, not a per-event stream: each
  * scheduled run re-extracts a lookback window and delete+appends it
  * into the stored tables (`App/utils/time_utils.py:25-51`,
  * `ref/RCO_Overall_orchestrator.R:304-317`). Each micro-batch here is
  * one such run, scoped to the lines the batch touched:
  *
  *  1. the batch's raw events are merged into [[LandedEvents]] under
  *     `baseDir`, keyed on (user_id, event_id) and bucketed by user_id —
  *     the stream's stand-in for the MES source history. A replayed
  *     batch, or a re-sent event, overwrites its stored row;
  *  2. the touched lines' FULL landed history is re-read (bucket-pruned)
  *     into the canonical downtime log; the production log is the whole
  *     landed table, because the brandcode master is site-wide;
  *  3. every stored row of the touched lines is deleted from the
  *     per-line tables, and this server's rows from BRANDCODE_data;
  *  4. the batch pipeline runs over those logs and loads through the
  *     idempotent sinks, exactly as [[RcoEtl.runSites]] does per site.
  *
  * Step 3 makes the result exact: the load's windowed upserts delete
  * only stored rows from the recomputed rows' earliest time (less a
  * pad), so alone they would keep rows the recomputation drops — the
  * stored first stop of a changeover a late CO event extends past it,
  * or a changeover a corrected re-send removes. The stored tables thus
  * equal one batch run over everything landed so far (late,
  * out-of-order and re-sent events included; no lookback, watermark or
  * lateness bound) up to the reference's adaptive rounding: each load
  * rounds a double column by the mean magnitude of the frame it writes
  * (`ProdOps.roundAdaptiveAll`), and a trigger writes only the touched
  * lines (ROADMAP, carry-over). A crash between steps 3 and 4 leaves
  * the touched lines missing until the restarted query re-runs the
  * uncommitted batch. A trigger's cost grows with the site's landed
  * history: the touched lines' history, plus a full scan of the landed
  * table for the site-wide brandcode master.
  *
  * Emission: a line's last changeover is still open — a later event
  * can extend it — yet it is upserted provisionally, and corrected by
  * the next trigger that touches the line. That is the reference's own
  * behaviour: every scheduled run loads the open tail CO of its window.
  */
object StreamingRcoEtl {

  /** Table under `baseDir` holding every raw event landed so far. */
  val LandedEvents = "Landed_Events"

  /** Start the driver.
    * @param events     streaming frame with the
    *                   [[graft.sources.Tables.events]] schema
    * @param baseDir    directory of the output and landed tables
    * @param checkpoint the query's checkpoint location */
  def start(events: DataFrame, p: RcoEtl.SiteParams, baseDir: String,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        runBatch(batch, p, baseDir) }
      .start()

  private def runBatch(batch: DataFrame, p: RcoEtl.SiteParams,
      baseDir: String): Unit = {
    val spark = batch.sparkSession
    val landed = s"$baseDir/$LandedEvents"
    // one merge key per row: a source that re-sends within a batch must
    // not append the same event twice
    val rows = batch.dropDuplicates("user_id", "event_id").persist()
    try {
      val lines = rows.select("user_id").distinct().collect().map(_.get(0))
      if (lines.nonEmpty) {
        ParquetSinks.upsertByKeyBucketed(spark, rows, landed,
          Seq("user_id", "event_id"), bucketCol = "user_id")
        val fullLog = Rco.downtimeLogDeduped(
          ParquetSinks.readBucketsFor(spark, landed, "user_id", rows)
            .filter(col("user_id").isin(lines.toSeq: _*)))
        val prodLog = Rco.productionLog(spark.read.parquet(landed))
        // step 3; the model's line name is 'L' + user_id (see [[Rco]])
        import spark.implicits._
        val touched = lines.map(l => (p.server, s"L$l")).toSeq
        RcoEtl.LineTables.foreach { case (t, c) => ParquetSinks
          .deleteKeys(spark, s"$baseDir/$t", touched.toDF("Server", c), c) }
        ParquetSinks.deleteKeys(spark, s"$baseDir/BRANDCODE_data",
          Seq(p.server).toDF("Server"), "Server")
        val (outputs, release) = RcoEtl.runReleasable(fullLog, prodLog, p)
        try RcoEtl.load(spark, outputs, baseDir, p.server)
        finally release()
      }
    } finally { rows.unpersist(); () }
  }
}
