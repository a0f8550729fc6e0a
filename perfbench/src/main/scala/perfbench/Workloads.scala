package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Thrown when an operation's output disagrees with the generator's truth. */
final class CheckFailed(msg: String) extends Exception(msg)

/** Timings and failures of one run. An operation that throws or fails
  * its check is counted as failed and is never recorded as a time. */
final class Outcome {
  /** (kind, seconds, traced) of every operation that passed its check. */
  val samples = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def failed: Int = failures.size
  def of(kind: String): Seq[Double] = samples.collect { case (`kind`, s, false) => s }.toSeq
}

/** One closed-loop workload: a set-up that can be repeated into a fresh
  * directory, and numbered steps, each running two timed operations: a
  * `batch` (data processing) and a `query`. With a tracer, the step's
  * layers run one by one on materialised inputs inside spans. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path) {
  /** Untimed generation of the inputs the set-up reads. */
  def prepare(): Unit
  /** The program-side set-up, into directory `dir`. */
  def setup(dir: Path): Unit
  /** Step `k` (which names its data and window ends) with query
    * variant `v` (which picks the query's shape or search batch). */
  def step(k: Int, v: Int, tracer: Option[Tracer], out: Outcome): Unit
  /** Untimed run of each operation kind, so that the first measured step
    * does not pay for first-time compilation. */
  def warmUp(out: Outcome): Unit
  /** Steps per round: a run measures whole rounds, so that every run of
    * a workload measures the same mix of operations. */
  def round: Int = 1
  /** Workload-specific figures: name, value, unit. */
  def report(out: Outcome): Seq[(String, Double, String)]
  /** Bytes of generated input (logs or corpus). */
  def inputBytes: Long

  protected var dir: Path = _
  def use(d: Path): Unit = dir = d

  /** Time `body` as one operation of `kind`, then run `check` untimed. */
  protected def timed[R](kind: String, k: Int, tracer: Option[Tracer], out: Outcome)(
      body: => R)(check: R => Unit): Unit = {
    out.attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = tracer match {
        case Some(t) => t.span(s"op.$kind", k)(_ => body)
        case None => body
      }
      val secs = (System.nanoTime() - t0) / 1e9
      check(r)
      out.samples += ((kind, secs, tracer.nonEmpty))
    } catch {
      case e: Throwable =>
        out.failures += s"$kind#$k: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
    }
  }

  protected def layer[T](tracer: Option[Tracer], name: String, k: Int)(body: Span => T): T =
    tracer match {
      case Some(t) => t.span(name, k)(body)
      case None => body(new Span(-1, name, None, k, 0L))
    }

  protected def require(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)
}

object Workload {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Bytes of cached blocks across the session. */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def checksum(rows: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }
}
