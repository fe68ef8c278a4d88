package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.jdk.CollectionConverters._

/** One client operation as the harness timed it. `work` is the units it
  * completed (requests, points, queries or documents); `results` the
  * rows it returned.
  */
final case class OpRecord(id: Long, kind: String, primary: Boolean,
                          startNs: Long, endNs: Long, work: Double, results: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Shared state of one benchmark run: the session, the tracer, the
  * listener, and the ledger of ops and failed checks.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val counters: SparkCounters, val workDir: String) {
  private val opIds = new AtomicLong(0)
  private val ops = new ConcurrentLinkedQueue[OpRecord]()
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attemptedN = new AtomicInteger(0)
  @volatile var measuring = false

  val json = new ObjectMapper()

  /** Run one op: its Spark jobs are labelled with its id, and while the
    * window is open it is recorded. Its answer is checked by the caller
    * after it returns, outside its time. An exception counts as a
    * failed op and yields None.
    */
  def op[T](kind: String, primary: Boolean)(body: => (T, Double, Long)): Option[(T, OpRecord)] = {
    val id = opIds.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobDescription(SparkCounters.description(id))
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val (r, work, results) = tracer.root(id, kind)(body)
      val rec = OpRecord(id, kind, primary, t0, System.nanoTime(), work, results)
      if (measuring) ops.add(rec)
      Some((r, rec))
    } catch {
      case e: Exception =>
        fail(s"$kind op $id threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    } finally sc.setJobDescription(null)
  }

  /** An answer check. A false check marks the run incorrect. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  private def fail(msg: String): Unit = failures.add(msg)

  def records: Seq[OpRecord] = ops.asScala.toSeq
  def failed: Seq[String] = failures.asScala.toSeq
  def attempted: Int = attemptedN.get()

  /** Plan, then run, a lazy query: the two Spark layers of every read. */
  def collect(df: DataFrame): Array[Row] = {
    tracer.span("spark.plan")(df.queryExecution.executedPlan)
    tracer.span("spark.exec", exec = true)(df.collect())
  }

  /** Rows → the JSON text a client would receive. */
  def render(rows: Array[Row]): String = tracer.span("render.json") {
    val out = new java.util.ArrayList[java.util.Map[String, Any]](rows.length)
    rows.foreach { r =>
      val m = new java.util.LinkedHashMap[String, Any]()
      r.schema.fieldNames.zipWithIndex.foreach { case (f, i) => m.put(f, r.get(i)) }
      out.add(m)
    }
    json.writeValueAsString(out)
  }

  def dir(name: String): String = s"$workDir/$name"

  def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** (files, bytes) of the data files under `path`. */
  def footprint(path: String): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var files = 0L
    var bytes = 0L
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith(".") && !n.startsWith("_")) { files += 1; bytes += st.getLen }
    }
    (files, bytes)
  }
}

/** A benchmark workload. `setup` builds everything the measured ops
  * need (repeated, and timed as `setup_s`); `step` runs one client
  * iteration of the closed loop.
  */
trait Workload {
  def clients: Int = 1
  /** What one unit of `work_per_s` is. */
  def unit: String
  /** Untimed: write the generated inputs the set-up reads. */
  def stage(ctx: Ctx): Unit = ()
  def setup(ctx: Ctx, dir: String): Unit
  /** Untimed preparation after the last set-up: brute-force answers. */
  def prepare(ctx: Ctx): Unit = ()
  def warmup(ctx: Ctx): Unit
  /** Steps each client runs in place of the `--seconds` deadline, for a
    * workload whose steps are too long for a window to hold a steady
    * number of them.
    */
  def fixedSteps(seconds: Int): Option[Int] = None
  def step(ctx: Ctx, client: Int, rnd: scala.util.Random): Unit
  /** Workload-specific per-layer figures. */
  def layerFigures(ctx: Ctx): Map[String, Double] = Map.empty
  /** Human-readable lines printed before the result. */
  def report(ctx: Ctx): Seq[String] = Nil
}
