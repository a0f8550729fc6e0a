package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** A seeded, time-varying RPL mesh and the Contiki-NG syslog text its
  * nodes would print, plus the ground truth a snapshot query over that
  * text must reproduce.
  *
  * Node 0 is the DODAG root. Neighbour sets are fixed (a symmetric
  * nearest-neighbour graph over random positions); each node's preferred
  * parent is one of its neighbours one hop closer to the root and
  * switches now and then, so the parent map varies over time. Every node
  * prints a DIO neighbour block once per report slot; the root also
  * prints its DAO routing table once per slot.
  */
final class Mesh(seed: Long, val nodes: Int, val days: Int) {
  import Mesh._

  val slots: Int = days * SlotsPerDay

  private val rnd = new SplittableRandom(seed)

  /** Symmetric k-nearest-neighbour graph, joined into one component. */
  val neighbors: Array[Array[Int]] = {
    val xs = Array.fill(nodes)(rnd.nextDouble())
    val ys = Array.fill(nodes)(rnd.nextDouble())
    xs(0) = 0.5; ys(0) = 0.5
    def d2(a: Int, b: Int) = {
      val dx = xs(a) - xs(b); val dy = ys(a) - ys(b); dx * dx + dy * dy
    }
    val adj = Array.fill(nodes)(mutable.TreeSet.empty[Int])
    for (a <- 0 until nodes) {
      (0 until nodes).filter(_ != a).sortBy(b => (d2(a, b), b))
        .take(NearestNeighbors).foreach { b => adj(a) += b; adj(b) += a }
    }
    // join components: link each stray component to its closest node
    // already reachable from the root
    var reached = reach(adj)
    while (reached.size < nodes) {
      val (a, b) = (for (a <- reached.toSeq; b <- 0 until nodes
          if !reached(b)) yield (a, b)).minBy { case (a, b) => (d2(a, b), a, b) }
      adj(a) += b; adj(b) += a
      reached = reach(adj)
    }
    adj.map(_.toArray)
  }

  private def reach(adj: Array[mutable.TreeSet[Int]]): Set[Int] = {
    val seen = mutable.Set(0); val q = mutable.Queue(0)
    while (q.nonEmpty) { val a = q.dequeue(); adj(a).foreach(b => if (seen.add(b)) q += b) }
    seen.toSet
  }

  /** Hop distance from the root. */
  val hop: Array[Int] = {
    val h = Array.fill(nodes)(-1); h(0) = 0
    val q = mutable.Queue(0)
    while (q.nonEmpty) {
      val a = q.dequeue()
      neighbors(a).foreach(b => if (h(b) < 0) { h(b) = h(a) + 1; q += b })
    }
    h
  }

  private val candidates: Array[Array[Int]] =
    Array.tabulate(nodes)(a => neighbors(a).filter(b => hop(b) < hop(a)))

  /** Preferred parent of each node at each of its report slots (-1 for
    * the root). */
  val parents: Array[Array[Int]] = Array.tabulate(nodes) { a =>
    if (a == 0) Array.fill(slots)(-1)
    else {
      val c = candidates(a)
      val out = new Array[Int](slots)
      var p = c(rnd.nextInt(c.length))
      for (s <- 0 until slots) {
        if (c.length > 1 && rnd.nextDouble() < SwitchChance) {
          val others = c.filter(_ != p)
          p = others(rnd.nextInt(others.length))
        }
        out(s) = p
      }
      out
    }
  }

  /** Seconds into its slot at which a node prints its DIO block. */
  val phaseSec: Array[Int] = Array.fill(nodes)(rnd.nextInt(SlotSec - 1))
  /** Seconds into its slot at which the root prints its DAO table. */
  val daoPhaseSec: Int = rnd.nextInt(SlotSec - 1)
  private val rankJitter = Array.fill(nodes)(rnd.nextInt(64))
  private val metricOf = Array.fill(nodes)(128 + rnd.nextInt(96))

  def rank(a: Int): Int = 128 + 256 * hop(a) + (if (a == 0) 0 else rankJitter(a))

  def dioMs(a: Int, slot: Int): Long =
    StartMs + slot * SlotMs + phaseSec(a) * 1000L
  def daoMs(slot: Int): Long = StartMs + slot * SlotMs + daoPhaseSec * 1000L

  /** Latest slot whose DIO report of node `a` is at or before `ms`, or -1. */
  def lastDioSlot(a: Int, ms: Long): Int = {
    val off = ms - StartMs - phaseSec(a) * 1000L
    if (off < 0) -1 else math.min(slots - 1L, off / SlotMs).toInt
  }

  /** Parent of `a` as of time `ms` (its last report's parent). */
  def parentAt(a: Int, ms: Long): Int = parents(a)(math.max(0, lastDioSlot(a, ms)))

  def addr(a: Int): String = f"fd00::212:4b00:0:${a + 1}%x"
  private def linkLocal(a: Int): String = f"fe80::212:4b00:0:${a + 1}%x"
  def dioId(a: Int): String = s"dio://[${addr(a)}]"
  def daoId(a: Int): String = s"dao://[${addr(a)}]"

  private def head(a: Int, ms: Long): String = {
    val t = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
    val mon = Months(t.getMonthValue - 1)
    f"$mon ${t.getDayOfMonth}%2d ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d node${a + 1} contiki: [INFO: RPL       ] "
  }

  private def dioBlock(a: Int, slot: Int, sb: java.lang.StringBuilder): Unit = {
    val h = head(a, dioMs(a, slot))
    val p = parents(a)(slot)
    sb.append(h).append(s"nbr: own state, addr ${addr(a)}, DAG state: Joined, MOP 1 OCP 0 rank ${rank(a)} max-rank 2048, dioint ${12 + (slot + a) % 8}, nbr count ${neighbors(a).length}\n")
    neighbors(a).foreach { b =>
      val flags = if (b == p) " r afp" else if (hop(b) < hop(a)) " r af" else " r"
      sb.append(h).append(s"nbr: ${linkLocal(b)}  ${rank(b)}, ${metricOf(b)} => ${rank(b) + metricOf(b)} -- 2$flags\n")
    }
    sb.append(h).append("nbr: end of list\n")
  }

  /** A DIO block cut short by a line no neighbour grammar accepts: the
    * parser drops it with one warning and emits no finding for it. */
  private def malformedBlock(a: Int, slot: Int, sb: java.lang.StringBuilder): Unit = {
    val h = head(a, dioMs(a, slot) - 1000L)
    sb.append(h).append(s"nbr: own state, addr ${addr(a)}, DAG state: Joined, MOP 1 OCP 0 rank ${rank(a)} max-rank 2048, dioint 12, nbr count 1\n")
    sb.append(h).append("nbr: ?? truncated neighbour entry\n")
    sb.append(h).append("nbr: end of list\n")
  }

  /** DAO routing table the root prints at `slot`: one child→parent row
    * per non-root node, parents as of the table's time. */
  def daoTable(slot: Int): Seq[(Int, Int)] = {
    val ms = daoMs(slot)
    (1 until nodes).map(c => (c, parentAt(c, ms)))
  }

  private def daoBlock(slot: Int, sb: java.lang.StringBuilder): Unit = {
    val h = head(0, daoMs(slot))
    sb.append(h).append(s"links: ${nodes - 1} routing links in total (DODAG root)\n")
    sb.append(h).append(s"links: ${addr(0)} (DODAG root)\n")
    daoTable(slot).foreach { case (c, p) =>
      sb.append(h).append(s"links: ${addr(c)}  to ${addr(p)} (lifetime: 1800 seconds)\n")
    }
    sb.append(h).append("links: end of list\n")
  }

  /** Syslog text node `a` prints over slots [from, until); `malformed`
    * names slots that also get a truncated block. */
  def logText(a: Int, from: Int, until: Int, malformed: Set[Int] = Set.empty): String = {
    val sb = new java.lang.StringBuilder
    for (s <- from until until) {
      if (malformed(s)) malformedBlock(a, s, sb)
      val dio = dioMs(a, s)
      if (a == 0 && daoMs(s) < dio) { daoBlock(s, sb); dioBlock(a, s, sb) }
      else {
        dioBlock(a, s, sb)
        if (a == 0) daoBlock(s, sb)
      }
    }
    sb.toString
  }

  /** Findings a parser must produce for slots [from, until). */
  def findingCount(from: Int, until: Int): Long =
    (from until until).map(s => nodes.toLong + daoTable(s).map(_._2).distinct.size).sum

  // ---- ground truth of snapshot queries --------------------------------

  /** DIO layer, DIO unifier: a node's snapshot entry comes from its
    * reports in [lo, hi]; its one `to_target` link is to the parent its
    * latest report names. `policy` does not matter here because every
    * report of a node lists the same neighbours. */
  def expectDio(lo: Long, hi: Long, starts: Seq[Int], maxHops: Option[Int]): Expected = {
    val reporters = (0 until nodes).filter { a =>
      val s = lastDioSlot(a, hi); s >= 0 && dioMs(a, s) >= lo
    }.toSet
    val out = (0 until nodes).map(a =>
      a -> (if (reporters(a)) neighbors(a).toSeq else Nil)).toMap
    val visited = bfs(out, starts, maxHops)
    val links = visited.filter(a => reporters(a) && a != 0).map(a => (a, parentAt(a, hi)))
    Expected(nodeMap(visited, out, dioId), links.map { case (a, p) => (dioId(a), dioId(p)) })
  }

  /** DAO layer, DAO unifier (latest sample per pair, no negation): the
    * links are every parent→child row of the retained DAO findings. */
  def expectDao(lo: Long, hi: Long, starts: Seq[Int], maxHops: Option[Int],
      keep: Option[Int]): Expected = {
    val inWindow = (0 until slots).filter { s => val t = daoMs(s); t >= lo && t <= hi }
    // per parent: its findings newest first, each the child set of one table
    val byParent = mutable.Map.empty[Int, List[Set[Int]]]
    inWindow.foreach { s =>
      daoTable(s).groupBy(_._2).foreach { case (p, rows) =>
        byParent(p) = rows.map(_._1).toSet :: byParent.getOrElse(p, Nil)
      }
    }
    val retained = byParent.map { case (p, fs) =>
      p -> keep.fold(fs)(n => fs.take(n)).reduce(_ ++ _) }.toMap
    val out = (0 until nodes).map(a => a -> retained.getOrElse(a, Set.empty).toSeq.sorted).toMap
    val visited = bfs(out, starts, maxHops, known = retained.keySet ++ retained.values.flatten)
    val links = for (p <- visited.toSeq if retained.contains(p); c <- retained(p)) yield (p, c)
    Expected(nodeMap(visited, out, daoId), links.map { case (p, c) => (daoId(p), daoId(c)) }.toSet)
  }

  /** Visited nodes plus their out-neighbours that were not visited
    * (the snapshot's boundary nodes). */
  private def nodeMap(visited: Set[Int], out: Map[Int, Seq[Int]],
      id: Int => String): Map[String, Boolean] = {
    val boundary = visited.toSeq.flatMap(out).toSet -- visited
    visited.map(a => id(a) -> false).toMap ++ boundary.map(a => id(a) -> true)
  }

  private def bfs(out: Map[Int, Seq[Int]], starts: Seq[Int], maxHops: Option[Int],
      known: Set[Int] = null): Set[Int] = {
    val k = if (known != null) known
      else out.collect { case (a, ns) if ns.nonEmpty => a }.toSet ++ out.values.flatten
    var frontier = starts.filter(k).toSet
    val seen = mutable.Set.empty[Int] ++ frontier
    var depth = 0
    while (frontier.nonEmpty && maxHops.forall(depth < _)) {
      frontier = frontier.flatMap(out).filterNot(seen)
      seen ++= frontier
      depth += 1
    }
    seen.toSet
  }
}

object Mesh {
  /** Expected snapshot of one layer: (node id → is_on_boundary, links). */
  final case class Expected(nodes: Map[String, Boolean], links: Set[(String, String)])

  val SlotSec = 600
  val SlotMs: Long = SlotSec * 1000L
  val SlotsPerDay: Int = 86400 / SlotSec
  val SlotsPerHour: Int = 3600 / SlotSec
  val Year = 2024
  val StartMs: Long = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli
  val NearestNeighbors = 3
  val SwitchChance = 0.02
  private val Months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
}

/** A seeded text corpus with planted near-duplicate families, and a
  * seeded embedding collection with planted near neighbours.
  *
  * A family is a base document plus variants of two kinds: *reformatted*
  * copies (case, punctuation and spacing changed; the same token stream,
  * so the same shingles) and *edited* copies (one word replaced).
  */
final class Corpus(seed: Long, val docs: Int, val families: Int,
    val vectors: Int, val dims: Int, val topics: Int, val plantedNeighbors: Int) {

  private val rnd = new SplittableRandom(seed)

  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < Corpus.VocabSize) {
      val n = 3 + rnd.nextInt(7)
      seen += new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
    }
    seen.toArray
  }

  private def words(n: Int): Array[String] = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))

  /** (base id, variant id, reformatted?) for every planted variant. */
  val planted: Seq[(Long, Long, Boolean)] = {
    val ids = {
      val a = Array.range(0, docs)
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    var next = 0
    (0 until families).flatMap { _ =>
      val base = ids(next); next += 1
      (0 until 1 + rnd.nextInt(3)).map { _ =>
        val v = ids(next); next += 1
        (base.toLong, v.toLong, rnd.nextBoolean())
      }
    }
  }

  /** Token stream of every document (what the dedup tokenizer sees). */
  val tokens: Array[Array[String]] = {
    val t = Array.fill(docs)(words(40 + rnd.nextInt(50)))
    planted.foreach { case (b, v, reformatted) =>
      val copy = t(b.toInt).clone()
      if (!reformatted) copy(rnd.nextInt(copy.length)) = vocab(rnd.nextInt(vocab.length))
      t(v.toInt) = copy
    }
    t
  }

  /** Raw text: reformatted variants get case, punctuation and spacing
    * noise the tokenizer removes. */
  val texts: Array[String] = {
    val reformatted = planted.collect { case (_, v, true) => v.toInt }.toSet
    Array.tabulate(docs) { i =>
      if (!reformatted(i)) tokens(i).mkString(" ")
      else tokens(i).zipWithIndex.map { case (w, j) =>
        val c = if (j % 5 == 0) w.capitalize else w
        if (j % 7 == 6) c + "," else c
      }.mkString("  ") + "."
    }
  }

  val quality: Array[Double] = Array.fill(docs)(rnd.nextDouble())

  /** Unit-free vectors: topic centre plus noise; the second vector of a
    * planted pair is a tiny perturbation of the first. */
  val embeddings: Array[Array[Double]] = {
    val centres = Array.fill(topics)(Array.fill(dims)(rnd.nextDouble() * 2 - 1))
    val v = Array.fill(vectors) {
      val c = centres(rnd.nextInt(topics))
      Array.tabulate(dims)(d => c(d) + (rnd.nextDouble() * 2 - 1) * 0.6)
    }
    plantedPairs.foreach { case (a, b) =>
      v(b) = v(a).map(x => x + (rnd.nextDouble() * 2 - 1) * 0.01)
    }
    v
  }

  /** (original, near copy) vector id pairs, spread over the collection. */
  lazy val plantedPairs: Seq[(Int, Int)] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val used = mutable.Set.empty[Int]
    Iterator.continually((r.nextInt(vectors), r.nextInt(vectors)))
      .filter { case (a, b) => a != b && !used(a) && !used(b) }
      .map { p => used += p._1; used += p._2; p }
      .take(plantedNeighbors).toSeq
  }

  /** Exact word-3-shingle Jaccard of two documents' token streams. */
  def jaccard(a: Long, b: Long): Double = {
    def sh(i: Long) = tokens(i.toInt).sliding(3).map(_.mkString(" ")).toSet
    val x = sh(a); val y = sh(b)
    (x intersect y).size.toDouble / (x union y).size
  }
}

object Corpus {
  val VocabSize = 4000
}
