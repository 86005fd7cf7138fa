package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{CountMin, Incremental, Materialize}

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

  /** Standing grid for an in-process run; eager checkpoint per merge so
    * lineage never chains across batches (the q116 discipline). */
  final class Maintainer {
    @volatile private var state: Option[DataFrame] = None
    def absorb(batch: DataFrame): Unit = synchronized {
      val p = registersPartial(batch)
      state = Some(state match {
        case None => Materialize.pin(p)
        case Some(st) => Materialize.pin(Incremental.mergePartials(st, p,
            Seq("i", "bucket"), addCols = Seq("rc"),
            minCols = Seq.empty, maxCols = Seq.empty))
      })
    }
    def current: DataFrame = state.getOrElse(
      throw new IllegalStateException("no batches absorbed"))
  }

  def maintained(docs: Dataset[Doc], m: Maintainer) =
    docs.writeStream
      .foreachBatch { (batch: Dataset[Doc], _: Long) =>
        m.absorb(batch.toDF())
      }
}
