package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Spider
import graft.io.GraphMl
import graft.model.SnapshotGraph
import graft.operators._
import graft.query.{GetSnapshot, Query}
import graft.rpl.{ContikiNg, Rpl}
import graft.sources.History
import graft.time.{Interval, IntervalEnd}

/** `rpl_ingest`: the RPL write path beside its read path. Set-up parses
  * and compacts the first days of a mesh's logs. Each step then
  *
  *  - ingests the next simulated hour (`batch`): Contiki-NG syslog text
  *    with planted malformed blocks through `ContikiNg.readLogs` and
  *    `Spider.addFoundNodes`; when the hour ends a day, `compact`
  *    rewrites the closed days;
  *  - answers one snapshot query (`query`) over the grown history, drawn
  *    from a fixed rotation of shapes: window width from the latest hour
  *    to the whole history, retention policy, unifier, start set, hop
  *    bound, and the RplCli `snapshot` export (both layers, combined,
  *    then a DODAG summary or GraphML). Every query has its own window
  *    end, so none reuses the frame another query left cached.
  *
  * Every output is checked against the mesh's ground truth. */
final class RplIngest(spark: SparkSession, seed: Long, work: Path)
    extends Workload(spark, seed, work) {
  import RplIngest._

  val mesh = new Mesh(seed, Nodes, Days)
  private val head = ContikiNg.SyslogHead(Mesh.Year)
  private val setupSlots = SetupHours * Mesh.SlotsPerHour
  private var committed = 0L
  private var logBytes = 0L
  private var warnings = 0L
  private val sums = mutable.LinkedHashMap.empty[Int, Long]

  def inputBytes: Long = logBytes
  private def logsDir = work.resolve("logs")

  def prepare(): Unit = writeLogs(logsDir, 0, setupSlots)

  def setup(d: Path): Unit = {
    ingest(logsDir, d, None, -1)
    History.compact(spark, d.toString, beforeDay = Some(dayOf(setupSlots)))
    committed = mesh.findingCount(0, setupSlots)
  }

  /** Step `k` ingests hour k after the set-up (and compacts the closed
    * days when that hour ends a day), then runs query variant `v`. */
  def step(k: Int, v: Int, tracer: Option[Tracer], out: Outcome): Unit = {
    val until = batch(k, tracer, out)
    query(k, v, until, tracer, out)
  }

  /** Steps alternate a Spider query and an RplCli export. */
  override def round: Int = 2

  /** Run the first Spider query and RplCli export over the set-up
    * history, then repeat the Spider query: the repeat must give the
    * same checksum. */
  def warmUp(out: Outcome): Unit = {
    Seq(0, 1).foreach(v => query(-1 - v, v, setupSlots, None, out))
    sums.get(-1).foreach { first =>
      sums.remove(-1)
      query(-1, 0, setupSlots, None, out)
      if (sums.get(-1).exists(_ != first))
        out.failures += "a repeated query changed its checksum"
    }
  }

  // ---- ingest --------------------------------------------------------------

  /** One log file per node for slots [from, until). */
  private def writeLogs(to: Path, from: Int, until: Int,
      malformed: Map[Int, Set[Int]] = Map.empty): Unit = {
    Files.createDirectories(to)
    (0 until mesh.nodes).foreach { a =>
      val text = mesh.logText(a, from, until, malformed.getOrElse(a, Set.empty))
      Files.write(to.resolve(f"node${a + 1}%03d.log"), text.getBytes("UTF-8"))
      logBytes += text.length
    }
  }

  private def dayOf(slot: Int): String =
    java.time.Instant.ofEpochMilli(Mesh.StartMs + slot * Mesh.SlotMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** Parse a log directory and append its findings to the history. */
  private def ingest(logs: Path, history: Path, tracer: Option[Tracer], k: Int): Unit = {
    val (dio, dao) = layer(tracer, "contiking.readLogs", k) { s =>
      val (d, a) = ContikiNg.readLogs(spark, logs.toString, head)
      if (tracer.isEmpty) (d, a)
      else {
        val dp = d.persist(); val ap = a.persist()
        s.values("findings") = (dp.count() + ap.count()).toDouble
        (dp, ap)
      }
    }
    layer(tracer, "history.append", k) { _ =>
      val sp = Spider(spark, history.toString)
      sp.addFoundNodes(dio); sp.addFoundNodes(dao)
    }
    if (tracer.nonEmpty) { dio.unpersist(); dao.unpersist() }
  }

  /** Ingest hour k; returns the slot the history now ends at. */
  private def batch(k: Int, tracer: Option[Tracer], out: Outcome): Int = {
    val from = setupSlots + k * Mesh.SlotsPerHour
    val until = from + Mesh.SlotsPerHour
    require(until <= mesh.slots, s"ingest ran past the generated $Days days")
    val r = new SplittableRandom(seed * 7919L + k)
    val planted = Seq.fill(MalformedPerBatch)(
      (r.nextInt(mesh.nodes), from + r.nextInt(Mesh.SlotsPerHour))).distinct
    val logs = work.resolve(s"batch-$k")
    writeLogs(logs, from, until, planted.groupBy(_._1).map { case (a, s) => a -> s.map(_._2).toSet })
    timed("batch", k, tracer, out)(ingest(logs, dir, tracer, k)) { _ =>
      val n = mesh.findingCount(from, until)
      committed += n
      out.counts("findings") += n
      val rows = History.read(spark, dir.toString).count()
      require(rows == committed, s"batch $k: $rows rows committed, expected $committed")
      val w = (0 until mesh.nodes).map(a => ContikiNg.parseText(
        new String(Files.readAllBytes(logs.resolve(f"node${a + 1}%03d.log")), "UTF-8"),
        head).warnings.size).sum
      warnings += w
      tracer.foreach(_.set(k, "contiking.readLogs", "warnings", w))
      require(w == planted.size, s"batch $k: $w parse warnings, planted ${planted.size}")
    }
    if (until % Mesh.SlotsPerDay == 0) {
      val today = dayOf(until)
      val before = multisetHash(today)
      timed("compact", k, tracer, out) {
        layer(tracer, "history.compact", k) { s =>
          if (tracer.nonEmpty)
            s.values("compact_bytes_rewritten") = closedDayBytes(today).toDouble
          History.compact(spark, dir.toString, beforeDay = Some(today))
        }
      } { _ =>
        val after = multisetHash(today)
        require(before == after, s"compaction before $today changed the rows: $before -> $after")
      }
    }
    Workload.deleteTree(logs)
    until
  }

  private def closedDayBytes(beforeDay: String): Long = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path])
      .filter(p => p.getFileName.toString.startsWith("day=") &&
        p.getFileName.toString.stripPrefix("day=") < beforeDay)
      .map(Workload.dirBytes).sum
    finally s.close()
  }

  /** (rows, order-independent hash) of the history before `day`. */
  private def multisetHash(day: String): (Long, String) = {
    val end = java.time.LocalDate.parse(day).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli
    val r = History.read(spark, dir.toString,
        Interval(IntervalEnd(None, true), IntervalEnd(Some(end), false)))
      .select(xxhash64(to_json(struct(col("*")))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")).cast("string")).collect()(0)
    (r.getLong(0), r.getString(1))
  }

  // ---- query ---------------------------------------------------------------

  /** Query variant `v`: even variants are Spider queries, odd ones
    * RplCli exports; every four variants move on to the next shape of
    * each list. */
  private def query(k: Int, v: Int, until: Int, tracer: Option[Tracer], out: Outcome): Unit = {
    val shape =
      if (v % 2 == 0) Left(SpiderShapes(v / 4 % SpiderShapes.size))
      else Right(CliShapes(v / 4 % CliShapes.size))
    val hi = Mesh.StartMs + until * Mesh.SlotMs - 1000L
    val width = shape.fold(_.widthSec, _.widthSec)
    val lo = if (width < 0) Mesh.StartMs else hi - width * 1000L
    shape match {
      case Left(q) =>
        val r = new SplittableRandom(seed * 1000003L + k)
        val starts = if (q.someStarts) Seq.fill(4)(r.nextInt(mesh.nodes)).distinct else Seq(0)
        timed("query", k, tracer, out)(spiderQuery(q, lo, hi, starts, k, tracer)) { g =>
          val exp = if (q.dao) mesh.expectDao(lo, hi, starts, q.maxHops, keepOf(q.policy))
            else mesh.expectDio(lo, hi, starts, q.maxHops)
          // only the RPL unifiers have a closed-form link set
          checkGraph(s"query $k", g, exp, withLinks = q.unifierTag == "rpl")
          sums.getOrElseUpdate(k, graphSum(g))
        }
      case Right(c) =>
        timed("query", k, tracer, out)(rplCli(c, lo, hi, k, tracer)) { res =>
          checkRplCli(c, lo, hi, res)
          sums.getOrElseUpdate(k, res.hashCode.toLong)
        }
    }
  }

  private def interval(lo: Long, hi: Long): Interval =
    Interval(IntervalEnd(Some(lo), true), IntervalEnd(Some(hi), true))

  /** Node rows and link rows of a graph, forced to the driver. */
  private def collectGraph(g: SnapshotGraph): (Array[Row], Array[Row]) =
    (g.nodes.select(col("node_id"), col("is_on_boundary"),
        coalesce(col("epoch_ms"), lit(-1L)), to_json(col("node_attrs"))).collect(),
     g.links.select(col("source_node"), col("dest_node"), col("is_directed"),
        col("epoch_ms"), to_json(col("link_attrs"))).collect())

  private def graphSum(g: (Array[Row], Array[Row])): Long =
    Workload.checksum(g._1.map(_.mkString("|")).toSeq ++ g._2.map(_.mkString("|")).toSeq)

  private def checkGraph(label: String, got: (Array[Row], Array[Row]),
      exp: Mesh.Expected, withLinks: Boolean): Unit = {
    val nodes = got._1.map(r => r.getString(0) -> r.getBoolean(1)).toMap
    require(nodes.size == got._1.length, s"$label: duplicate node rows")
    require(nodes == exp.nodes,
      s"$label: ${nodes.size} nodes, expected ${exp.nodes.size}; differ on " +
        s"${(nodes.toSet diff exp.nodes.toSet).take(3)} / ${(exp.nodes.toSet diff nodes.toSet).take(3)}")
    if (withLinks) {
      val links = got._2.map(r => (r.getString(0), r.getString(1))).toSet
      require(links.size == got._2.length, s"$label: duplicate link rows")
      require(links == exp.links,
        s"$label: ${links.size} links, expected ${exp.links.size}; differ on " +
          s"${(links diff exp.links).take(3)} / ${(exp.links diff links).take(3)}")
    }
  }

  /** A Spider query. Traced, the layers first run one by one, each on the
    * previous layer's materialised output; then the real
    * `Spider.getSnapshot` runs inside the `getsnapshot` span. */
  private def spiderQuery(q: SpiderShape, lo: Long, hi: Long, starts: Seq[Int], k: Int,
      tracer: Option[Tracer]): (Array[Row], Array[Row]) = {
    val ids = starts.map(a => if (q.dao) mesh.daoId(a) else mesh.dioId(a))
    val query = Query[String](ids, interval(lo, hi), q.policy, q.unifier, q.maxHops)
    tracer.foreach(_ => layeredSnapshot(query, k, tracer))
    layer(tracer, "getsnapshot.getSnapshot", k) { s =>
      val g = collectGraph(Spider(spark, dir.toString).getSnapshot(query))
      if (tracer.nonEmpty) s.values("cached_bytes") = Workload.cachedBytes(spark).toDouble
      g
    }
  }

  private def layeredSnapshot(query: Query[String], k: Int, tracer: Option[Tracer]): Unit = {
    val findings = layer(tracer, "history.read", k) { s =>
      val f = History.read(spark, dir.toString, query.interval).persist()
      s.values("rows_returned") = f.count().toDouble
      f
    }
    val retained = layer(tracer, "weave.retainFindings", k) { s =>
      val r = Weave.retainFindings(findings, query.policy).persist()
      s.values("rows_retained") = r.count().toDouble
      r
    }
    val visited = layer(tracer, "bfs.reachable", k) { s =>
      val known = retained.select(col("subject").as("node_id"))
        .union(retained.select(explode(col("links.target")).as("node_id"))).distinct()
      val starts = spark.createDataFrame(query.startsFrom.map(Tuple1(_))).toDF("node_id")
        .join(known, Seq("node_id"), "left_semi")
      val edges = retained.select(col("subject").as("src"), explode(col("links.target")).as("dst"))
      val v = Bfs.reachable(edges, starts, query.maxHops).select("node_id").persist()
      s.values("visited") = v.count().toDouble
      v
    }
    val reach = retained.join(visited.withColumnRenamed("node_id", "subject"),
      Seq("subject"), "left_semi")
    val (_, links) = layer(tracer, "weave.snapshot", k) { _ =>
      val bare = visited.join(reach.select(col("subject").as("node_id")).distinct(),
        Seq("node_id"), "left_anti")
      collectGraph(Weave.snapshot(reach, PolicyAppend, query.unifier, Some(bare)))
    }
    // counted outside the span: it is not part of the snapshot's work
    val samples = Weave.linkSamples(reach).count()
    tracer.foreach(_.set(k, "weave.snapshot", "samples_per_link",
      samples.toDouble / math.max(1, links.length)))
    Seq(findings, retained, visited).foreach(_.unpersist())
  }

  /** The RplCli `snapshot` shape: read the interval, split the layers,
    * snapshot both from every loaded subject, combine, then summarise or
    * export GraphML. */
  private def rplCli(c: CliShape, lo: Long, hi: Long, k: Int,
      tracer: Option[Tracer]): Seq[Any] = {
    val traced = tracer.nonEmpty
    val all = layer(tracer, "history.read", k) { s =>
      val f = History.read(spark, dir.toString, interval(lo, hi))
      if (!traced) f
      else { val p = f.persist(); s.values("rows_returned") = p.count().toDouble; p }
    }
    val dioF = all.filter(col("subject").startsWith("dio://"))
    val daoF = all.filter(col("subject").startsWith("dao://"))
    val starts = daoF.select(col("subject")).union(dioF.select(col("subject")))
      .distinct().toDF("node_id")
    def forced(g: SnapshotGraph): SnapshotGraph =
      if (!traced) g
      else {
        val p = SnapshotGraph(g.nodes.persist(), g.links.persist())
        p.nodes.count(); p.links.count(); p
      }
    def snap(f: DataFrame, u: LinkUnifier): SnapshotGraph =
      layer(tracer, "getsnapshot.ofStarts", k) { s =>
        val g = forced(GetSnapshot.ofStarts(spark, f, starts,
          Query[String](Nil, Interval.whole, c.policy, u)))
        if (traced) s.values("cached_bytes") = Workload.cachedBytes(spark).toDouble
        g
      }
    val dioG = snap(dioF, Rpl.DioUnifier)
    val daoG = snap(daoF, Rpl.daoUnifier)
    val combined = layer(tracer, "rpl.combineGraphs", k)(_ => forced(Rpl.combineGraphs(dioG, daoG)))
    val res =
      if (c.graphml) layer(tracer, "graphml.write", k) { s =>
        val xml = GraphMl.write(combined)
        s.values("bytes") = xml.length.toDouble
        Seq(occurrences(xml, "  <node id="), occurrences(xml, "  <edge source="))
      } else layer(tracer, "rpl.dodagSummary", k) { _ =>
        val row = Rpl.dodagSummary(daoG).collect()(0)
        Seq(row.getAs[Long]("node_num"), row.getAs[Long]("edge_num"),
          row.getAs[Long]("depth"), row.getAs[String]("root"),
          combined.nodes.count(), combined.links.count())
      }
    if (traced)
      (all +: Seq(dioG, daoG, combined).flatMap(g => Seq(g.nodes, g.links))).foreach(_.unpersist())
    res
  }

  private def occurrences(s: String, needle: String): Long = {
    var n = 0L; var i = s.indexOf(needle)
    while (i >= 0) { n += 1; i = s.indexOf(needle, i + 1) }
    n
  }

  private def checkRplCli(c: CliShape, lo: Long, hi: Long, res: Seq[Any]): Unit = {
    val every = 0 until mesh.nodes
    val dio = mesh.expectDio(lo, hi, every, None)
    val dao = mesh.expectDao(lo, hi, every, None, keepOf(c.policy))
    val addrs = (dio.nodes.keySet ++ dao.nodes.keySet).map(_.dropWhile(_ != '['))
    val nLinks = (dio.links.size + dao.links.size).toLong
    if (c.graphml)
      require(res == Seq(addrs.size.toLong, nLinks),
        s"graphml (nodes, edges) = $res, expected (${addrs.size}, $nLinks)")
    else {
      val children = dao.links.groupBy(_._1).map { case (p, ls) => p -> ls.map(_._2) }
      var frontier = Set(mesh.daoId(0)); val seen = mutable.Set(mesh.daoId(0)); var depth = 0L
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(children.getOrElse(_, Set.empty)).filterNot(seen)
        seen ++= frontier
        if (frontier.nonEmpty) depth += 1
      }
      val exp = Seq(dao.nodes.size.toLong, dao.links.size.toLong, depth, mesh.daoId(0),
        addrs.size.toLong, nLinks)
      require(res == exp, s"dodag summary $res, expected $exp")
    }
  }

  def report(out: Outcome): Seq[(String, Double, String)] = {
    val b = out.of("batch"); val q = out.of("query"); val c = out.of("compact")
    val (qt, qp) = Stats.tail(q)
    Seq(("append_p50_s", Stats.median(b), "s"), ("append_samples", b.size, "count"),
      ("compact_s", Stats.median(c), "s"), ("compact_samples", c.size, "count"),
      ("snapshot_p50_s", Stats.median(q), "s"), ("snapshot_tail_s", qt, "s"),
      ("snapshot_tail_pct", qp, "%"), ("snapshot_samples", q.size, "count"),
      ("ingest_findings_per_s", out.counts("findings") / (b.sum + c.sum), "1/s"),
      ("parse_warnings", warnings.toDouble, "count"),
      ("stored_bytes_per_input_byte", Workload.dirBytes(dir).toDouble / logBytes, "B/B"),
      ("cached_bytes", Workload.cachedBytes(spark).toDouble, "B"),
      ("warm_up_query_checksum", sums.get(-1).fold(0.0)(h => (h & 0xffffffffL).toDouble), "hash"))
  }
}

object RplIngest {
  val Nodes = 40
  val Days = 5
  /** Set-up history ends 2 hours before midnight, so the batch of
    * step 1 closes the first day. */
  val SetupHours = 22
  val MalformedPerBatch = 2

  /** One Spider query shape. `unifierTag`: rpl (the layer's RPL
    * unifier), std or listmerge. Width -1 is the whole history. */
  final case class SpiderShape(dao: Boolean, widthSec: Long, policy: FoundNodePolicy,
      unifierTag: String, someStarts: Boolean, maxHops: Option[Int]) {
    def unifier: LinkUnifier = unifierTag match {
      case "rpl" => if (dao) Rpl.daoUnifier else Rpl.DioUnifier
      case "std" => new StdUnifier()
      case "listmerge" => new ListMergeUnifier(ListMergeUnifier.latestOfBoth)
    }
  }
  final case class CliShape(widthSec: Long, policy: FoundNodePolicy, graphml: Boolean)

  def keepOf(p: FoundNodePolicy): Option[Int] = p match {
    case PolicyOverwrite => Some(1)
    case PolicyKeepN(n) => Some(n)
    case PolicyAppend => None
  }

  private val H = 3600L
  val SpiderShapes: IndexedSeq[SpiderShape] = IndexedSeq(
    SpiderShape(dao = false, H, PolicyOverwrite, "rpl", someStarts = false, None),
    SpiderShape(dao = false, 6 * H, PolicyKeepN(3), "listmerge", someStarts = true, Some(2)),
    SpiderShape(dao = true, 24 * H, PolicyAppend, "rpl", someStarts = false, Some(2)),
    SpiderShape(dao = false, -1, PolicyAppend, "std", someStarts = true, None))
  val CliShapes: IndexedSeq[CliShape] = IndexedSeq(
    CliShape(H, PolicyOverwrite, graphml = true),
    CliShape(6 * H, PolicyKeepN(3), graphml = false),
    CliShape(-1, PolicyAppend, graphml = true))
}
