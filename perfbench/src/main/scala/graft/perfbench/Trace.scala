package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import graft.engine.TableIO
import graft.sources.{HttpTransport, OrgRecipe, RemoteOrg}

/** In-memory span recorder for the traced run. Spans are recorded by the
  * benchmark's own wrappers around calls into the program's public
  * seams (a [[TableIO]], a [[RemoteOrg]], an [[HttpTransport]]) and by
  * the wire server around its org calls; nothing inside the program is
  * instrumented. Recording is off unless `on` is set, so the untraced
  * run pays one volatile read per call. */
object Trace {
  val Engine = "engine"
  val Client = "client"
  val Wire = "wire"
  val Remote = "remote"
  val Query = "query"

  /** `start`/`end` in nanoseconds on the JVM's monotonic clock. */
  final case class Span(layer: String, name: String, thread: Long, start: Long, end: Long) {
    def dur: Long = end - start
  }

  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
  private val kept = new ConcurrentLinkedQueue[Span]()

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f
      finally spans.add(Span(layer, name, Thread.currentThread().getId, t0, System.nanoTime()))
    }

  def add(counter: String, n: Long): Unit =
    if (on) counters.computeIfAbsent(counter, _ => new java.util.concurrent.atomic.LongAdder).add(n)

  /** Counter totals since the last call, then reset. */
  def drainCounters(): Map[String, Long] =
    counters.asScala.map { case (k, v) => k -> v.sumThenReset() }.toMap

  /** Spans recorded since the last drain; they are also kept for the
    * span file written at exit. */
  def drain(): Vector[Span] = {
    val out = Vector.newBuilder[Span]
    var s = spans.poll()
    while (s != null) { out += s; kept.add(s); s = spans.poll() }
    out.result()
  }

  def all: Seq[Span] = kept.asScala.toSeq

  // ---- arithmetic ------------------------------------------------------------

  /** Total length of the union of `[start, end)` intervals, clipped to
    * `[lo, hi)`. */
  def unionLength(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self times along the blocking path: splits `[lo, hi)` among layers
    * listed deepest first, each instant going to the deepest layer that
    * has a span open at that instant on any thread, and to `rest` when
    * none has. A layer's part is the union of its spans minus what its
    * deeper layers cover, so overlapping spans count once and the parts
    * sum to `hi - lo`. */
  def blockingPath(layers: Seq[(String, Iterable[(Long, Long)])], lo: Long, hi: Long,
      rest: String): Seq[(String, Long)] = {
    var covered = 0L
    var acc = Vector.empty[(Long, Long)]
    val parts = layers.map { case (name, ivs) =>
      acc = acc ++ ivs
      val u = unionLength(acc, lo, hi)
      val own = u - covered
      covered = u
      name -> own
    }
    parts :+ (rest -> ((hi - lo) - covered))
  }

  /** Linear-interpolated percentile (`p` in [0, 100]) of `xs`, the
    * same definition as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted
    val rank = p / 100.0 * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}

/** [[TableIO]] delegate that times each call as an `engine` span. `read`
  * returns a lazy frame, so its span covers planning and the describe
  * round trip; the scan itself runs inside whichever call consumes it. */
final class TracedTableIO(inner: TableIO) extends TableIO {
  override def read(table: String): DataFrame = Trace.span(Trace.Engine, "read")(inner.read(table))
  override def insert(table: String, rows: DataFrame): DataFrame =
    Trace.span(Trace.Engine, "insert")(inner.insert(table, rows))
  override def update(table: String, rows: DataFrame): Long =
    Trace.span(Trace.Engine, "update")(inner.update(table, rows))
  override def overwrite(table: String, rows: DataFrame): Unit =
    Trace.span(Trace.Engine, "overwrite")(inner.overwrite(table, rows))
}

/** [[RemoteOrg]] delegate registered in place of the wire client: each
  * org call is a `client` span. A query's rows are pulled lazily by the
  * scan; the time spent inside its iterator (row coercion, and result
  * fetches, which are `wire` spans of their own) is summed into the
  * `client.iterate_ns` counter instead of one span per row. */
final class TracedOrg(inner: RemoteOrg) extends RemoteOrg {
  override def describe(sObject: String): StructType =
    Trace.span(Trace.Client, "describe")(inner.describe(sObject))

  override def query(soql: String): Iterator[Row] = {
    val it = Trace.span(Trace.Client, "query")(inner.query(soql))
    new Iterator[Row] {
      private def timed[T](f: => T): T = {
        val t0 = System.nanoTime()
        try f finally Trace.add("client.iterate_ns", System.nanoTime() - t0)
      }
      override def hasNext: Boolean = timed(it.hasNext)
      override def next(): Row = timed(it.next())
    }
  }

  override def insert(sObject: String, rows: Seq[Row], schema: StructType): Seq[String] = {
    Trace.add("client.write_rows", rows.size.toLong)
    Trace.span(Trace.Client, "write")(inner.insert(sObject, rows, schema))
  }
  override def update(sObject: String, rows: Seq[Row], schema: StructType): (Int, Int) = {
    Trace.add("client.write_rows", rows.size.toLong)
    Trace.span(Trace.Client, "write")(inner.update(sObject, rows, schema))
  }
  override def upsert(sObject: String, externalIdField: String, rows: Seq[Row],
      schema: StructType): (Int, Int) =
    Trace.span(Trace.Client, "write")(inner.upsert(sObject, externalIdField, rows, schema))
  override def delete(sObject: String, ids: Seq[String]): Int =
    Trace.span(Trace.Client, "write")(inner.delete(sObject, ids))
  override def deleteWhere(sObject: String, predicates: Seq[String]): Int =
    Trace.span(Trace.Client, "write")(inner.deleteWhere(sObject, predicates))
  override def pkChunkBoundaries(sObject: String, desiredChunks: Int): Seq[String] =
    inner.pkChunkBoundaries(sObject, desiredChunks)
  override def recipe: Option[OrgRecipe] = inner.recipe
  override def close(): Unit = inner.close()
}

/** [[HttpTransport]] delegate: each request is a `wire` span. */
final class TracedTransport(inner: HttpTransport) extends HttpTransport {
  override def postForm(url: String, params: Map[String, String]): (Int, String) =
    inner.postForm(url, params)
  override def send(method: String, url: String, headers: Map[String, String],
      body: String): (Int, String) =
    Trace.span(Trace.Wire, method)(inner.send(method, url, headers, body))
}
