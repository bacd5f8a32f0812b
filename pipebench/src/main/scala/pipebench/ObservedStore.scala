package pipebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{CustomerStore, MergeResult}

/** The program's CustomerStore, unchanged, with a span around each public
  * call the pipeline makes into it, so every layer is timed from outside.
  * It also keeps each merge's result and lets the upload loop's cycles be
  * observed: `pending()` is called once per poll cycle.
  */
final class ObservedStore(s: SparkSession, val dir: String, tr: Tracer)
    extends CustomerStore(s, dir) {
  val merges = ArrayBuffer[MergeResult]()
  var onPending: () => Unit = () => ()

  override def insertNew(batch: DataFrame): Long =
    tr("store.insertNew")(super.insertNew(batch))

  override def merge(batch: DataFrame): MergeResult = {
    val r = tr("store.merge")(super.merge(batch))
    merges += r
    r
  }

  override def markUploaded(acked: DataFrame): Unit =
    tr("store.markUploaded")(super.markUploaded(acked))

  override def pending(): DataFrame = {
    onPending()
    tr("store.pending")(super.pending())
  }

  override def pendingPointLookup(emails: Seq[String]): (DataFrame, Int, Int) =
    tr("store.pendingPointLookup")(super.pendingPointLookup(emails))
}

object ObservedStore {
  val CommitSpans: Set[String] = Set("store.insertNew", "store.merge", "store.markUploaded")
}
