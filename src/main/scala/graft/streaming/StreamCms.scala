package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.CountMin

/** Streaming Count-Min maintenance — the ninth streaming shape: a
  * standing CMS register grid absorbs each micro-batch of DOCUMENTS via
  * `foreachBatch`, because counter grids ADD (the q126 merge law): the
  * maintained registers equal the batch-built sketch at ANY micro-batch
  * boundary, which is what the q143 gate hash-pins against the plain
  * batch oracle. This is how a production ingest keeps corpus frequency
  * telemetry live without ever re-scanning the corpus.
  *
  * At scale the standing state is the fixed Depth×Width grid (KBs,
  * key-cardinality-independent — even better than q116's per-key state);
  * each micro-batch costs one map-side-combined vocab count plus a
  * grid-sized merge.
  */
object StreamCms {

  case class Doc(docId: Long, text: String)

  /** One micro-batch's register partials (the exact q126 construction:
    * tokens → vocab counts → bucketed ×Depth → grid). */
  def registersPartial(batch: DataFrame): DataFrame =
    CountMin.registers(CountMin.bucketed(
      batch.select(explode(split(Text.normalize(col("text")), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt")),
      "tok", "cnt"))

  /** The standing grid: [[registersPartial]] per batch, counters added
    * per (row, bucket) — q116's maintainer with the grid's merge. */
  def maintainer: StreamMaintain.Maintainer =
    new StreamMaintain.Maintainer(registersPartial, Seq("i", "bucket"),
      addCols = Seq("rc"), minCols = Nil, maxCols = Nil)
}
