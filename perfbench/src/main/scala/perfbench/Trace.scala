package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: an operation (root span) or a call into one layer
  * (child span). `values` holds the layer's own counts; `engine` the
  * Spark counters the listeners attributed to this span. */
final class Span(val id: Int, val name: String, val parent: Option[Int],
    val op: Int, val startNs: Long) {
  var endNs: Long = 0L
  val values = mutable.LinkedHashMap.empty[String, Double]
  val engine = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Spans kept in memory and written out when the run ends. Engine
  * counters reach a span two ways: jobs carry the id of the span open
  * on the calling thread as a local property (their stages and tasks
  * follow the job), and query-execution events go to the innermost open
  * span — the listener bus is drained at every span boundary, so an
  * event is always handled before the span that caused it closes. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val PropKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var innermost: Option[Span] = None
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private def lookup(id: String): Option[Span] =
    Option(id).flatMap(_.toIntOption).flatMap(i => Option(byId.get(i)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lookup(e.properties.getProperty(PropKey)).foreach { s =>
        s.engine("jobs") += 1
        e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.engine("tasks") += 1
        if (!e.taskInfo.successful) s.engine("failed_tasks") += 1
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          val delay = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
          s.engine("executor_run_s") += m.executorRunTime / 1e3
          s.engine("scheduler_delay_s") += delay / 1e3
          s.engine("shuffle_bytes") += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          s.engine("spill_bytes") += m.diskBytesSpilled
          s.taskRunMs += m.executorRunTime
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      innermost.foreach { s =>
        s.engine("planning_s") += qe.tracker.phases.values.map(_.durationMs).sum / 1e3
        scans(qe.executedPlan).foreach { p =>
          s.engine("scan_files") += p.metrics("numFiles").value
          s.engine("scan_rows") += p.metrics.get("numOutputRows").fold(0L)(_.value)
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** File scans of an executed plan, through adaptive and stage wrappers. */
  private def scans(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case i: InMemoryTableScanExec => scans(i.relation.cachedPlan)
    case _: ReusedExchangeExec => Nil
    case p if p.metrics.contains("numFiles") && p.nodeName.startsWith("Scan") => Seq(p)
    case p => (p.children ++ p.subqueries).flatMap(scans)
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `body` inside a span named `layer.function` (or `op.*` for an
    * operation root). */
  def span[T](name: String, op: Int)(body: Span => T): T = {
    PerfbenchBus.drain(sc)
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id), op, System.nanoTime())
    spans += s; byId.put(s.id, s); stack.push(s); innermost = Some(s)
    sc.setLocalProperty(PropKey, s.id.toString)
    try body(s)
    finally {
      PerfbenchBus.drain(sc)
      s.endNs = System.nanoTime()
      stack.pop()
      innermost = stack.headOption
      sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Record `key = v` on the spans of operation `op` named `name*`
    * (figures known only once the operation's output is checked). */
  def set(op: Int, name: String, key: String, v: Double): Unit =
    spans.filter(s => s.op == op && s.name.startsWith(name)).foreach(_.values(key) = v)

  /** Spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val kv = (Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.fold("null")(_.toString), "op" -> s.op.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString) ++
        s.values.map { case (k, v) => k -> Json.num(v) } ++
        s.engine.toSeq.sortBy(_._1).map { case (k, v) => s"engine.$k" -> Json.num(v) })
      kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}
