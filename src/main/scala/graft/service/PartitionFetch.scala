package graft.service

import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.spark.{SimpleFutureAction, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graft.CollectShim

/** A result's rows fetched with up to `window` partition jobs in
  * flight and handed out strictly in partition order — the one
  * iterator both streaming doors drain ([[Governance.iterateBounded]]).
  *
  *   - One job per partition, submitted AHEAD: handing out partition p
  *     keeps partitions p … p+window-1 submitted, so the cluster scans
  *     the next partitions while the door encodes and ships this one.
  *   - Every job is submitted from the draining thread and so carries
  *     its job group: Cancel, KILL QUERY and `max_execution_time`
  *     cancel the group and reach every one of them.
  *   - Each partition ships as UnsafeRow bytes ([[CollectShim]]) and
  *     becomes `Row`s lazily on the driver, which holds at most
  *     `window` partitions' bytes plus the consumer's own block. No job
  *     is submitted ahead while the fetched-but-unread bytes exceed
  *     `maxBytes` (`spark.driver.maxResultSize`, the bound `collect()`
  *     is held to) — never the whole result.
  *   - [[close]] cancels every job still running and waits for it to
  *     end, so no job of the query runs after its door returns.
  */
private[service] final class PartitionFetch(
    sc: SparkContext,
    rdd: RDD[InternalRow],
    numFields: Int,
    toRow: InternalRow => Row,
    window: Int,
    maxBytes: Long) extends Iterator[Row] with AutoCloseable {

  private val parts = rdd.partitions.length
  private val jobs = new Array[SimpleFutureAction[Array[Byte]]](parts)
  private var submitted = 0 // partitions [0, submitted) have a job
  private var opened = 0    // partitions [0, opened) were handed out
  private var rows: Iterator[InternalRow] = Iterator.empty

  override def hasNext: Boolean = {
    while (!rows.hasNext && opened < parts) open()
    rows.hasNext
  }

  override def next(): Row = {
    if (!hasNext) throw new NoSuchElementException("result drained")
    toRow(rows.next())
  }

  /** Hand out the next partition: top the window up, wait for the
    * partition's own job, decode its bytes as the consumer reads. */
  private def open(): Unit = {
    val p = opened
    // the previous partition is read: its bytes may go before the wait
    rows = Iterator.empty
    if (p > 0) jobs(p - 1) = null
    while (submitted < parts && submitted < p + window &&
        (submitted == p || unreadBytes(p) <= maxBytes)) submit(submitted)
    val job = jobs(p)
    PartitionFetch.waitTick.get match {
      case null => Await.ready(job, Duration.Inf)
      case (everyNs, tick) =>
        while (!job.isCompleted) {
          try Await.ready(job, everyNs.nanos)
          catch { case _: java.util.concurrent.TimeoutException => tick() }
        }
    }
    rows = job.value.get match {
      case Success(bytes) => CollectShim.decode(bytes, numFields)
      case Failure(e) => throw e
    }
    opened += 1
  }

  /** Bytes of the finished jobs from partition `from` on. */
  private def unreadBytes(from: Int): Long = {
    var sum = 0L
    var i = from
    while (i < submitted) {
      jobs(i).value match {
        case Some(Success(bytes)) => sum += bytes.length
        case _ =>
      }
      i += 1
    }
    sum
  }

  private def submit(p: Int): Unit = {
    val result = new AtomicReference[Array[Byte]]
    // each job over its own RDD: Spark aborts every active job whose
    // lineage holds a failed stage's RDD, so jobs sharing `rdd` would
    // fail together and an error in partition p could surface before
    // the rows of the partitions ahead of it
    val own = rdd.mapPartitions(identity, preservesPartitioning = true)
    jobs(p) = sc.submitJob(own, PartitionFetch.encode, Seq(p),
      (_: Int, bytes: Array[Byte]) => result.set(bytes), result.get)
    submitted += 1
  }

  /** Cancel the jobs still running and wait until each has ended. */
  override def close(): Unit = {
    val running = (opened until submitted).map(jobs(_)).filterNot(_.isCompleted)
    running.foreach(_.cancel())
    running.foreach(j => Try(Await.ready(j, PartitionFetch.CancelWait)))
  }
}

private[service] object PartitionFetch {

  private val encode: Iterator[InternalRow] => Array[Byte] = CollectShim.encode
  private val CancelWait = 30.seconds
  private val waitTick = new ThreadLocal[(Long, () => Unit)]

  /** Run `body` (a `hasNext` on a fetch) so that, while it waits for a
    * partition, `tick` runs on this thread every `everyNs` — how a door
    * reports progress during a scan that ships no row yet. */
  def whileWaiting[A](everyNs: Long, tick: () => Unit)(body: => A): A = {
    val outer = waitTick.get
    waitTick.set((everyNs, tick))
    try body finally waitTick.set(outer)
  }

  /** Plan `df` the way `Dataset.withAction` does: the physical plan
    * executes inside one SQL execution id (AQE's shuffle stages and a
    * driver merge run there; `system.query_log` sees one execution),
    * which yields the final RDD whose partitions are then fetched. */
  def apply(df: DataFrame): PartitionFetch = {
    val sc = df.sparkSession.sparkContext
    val maxResult = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    apply(df, sc.defaultParallelism,
      if (maxResult > 0) maxResult else Long.MaxValue)
  }

  def apply(df: DataFrame, window: Int, maxBytes: Long): PartitionFetch = {
    val qe = df.queryExecution
    val (rdd, toRow) = SQLExecution.withNewExecutionId(qe, Some("stream")) {
      qe.executedPlan.resetMetrics()
      (qe.executedPlan.execute(),
        ExpressionEncoder(df.schema).resolveAndBind().createDeserializer())
    }
    new PartitionFetch(df.sparkSession.sparkContext, rdd, df.schema.length,
      toRow, window, maxBytes)
  }
}
