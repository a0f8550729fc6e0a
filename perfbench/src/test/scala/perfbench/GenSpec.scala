package perfbench

import org.scalatest.funsuite.AnyFunSuite
import graft.rpl.ContikiNg

/** The generators are the benchmark's inputs: one seed must always give
  * the same bytes, and another seed different ones. */
class GenSpec extends AnyFunSuite {
  private def logs(seed: Long): Seq[String] = {
    val m = new Mesh(seed, 12, 1)
    (0 until m.nodes).map(a => m.logText(a, 0, 12, if (a == 3) Set(5) else Set.empty))
  }

  private def findings(seed: Long) = logs(seed).map(t =>
    ContikiNg.parseText(t, ContikiNg.SyslogHead(Mesh.Year)))

  private def corpus(seed: Long) = new Corpus(seed, 300, 20, 200, 8, 4, 5)

  test("one seed gives byte-identical logs") {
    assert(logs(7) == logs(7))
  }

  test("one seed gives identical findings, and they match the mesh's counts") {
    assert(findings(7) == findings(7))
    val m = new Mesh(7, 12, 1)
    assert(findings(7).map(r => r.dios.size + r.daos.size).sum == m.findingCount(0, 12))
    assert(findings(7).map(_.warnings.size).sum == 1)
  }

  test("one seed gives an identical corpus") {
    val (a, b) = (corpus(7), corpus(7))
    assert(a.texts.toSeq == b.texts.toSeq)
    assert(a.quality.toSeq == b.quality.toSeq)
    assert(a.planted == b.planted)
    assert(a.embeddings.map(_.toSeq).toSeq == b.embeddings.map(_.toSeq).toSeq)
    assert(a.plantedPairs == b.plantedPairs)
  }

  test("another seed changes logs, findings and corpus") {
    assert(logs(7) != logs(8))
    assert(findings(7) != findings(8))
    val (a, b) = (corpus(7), corpus(8))
    assert(a.texts.toSeq != b.texts.toSeq)
    assert(a.embeddings.map(_.toSeq).toSeq != b.embeddings.map(_.toSeq).toSeq)
  }

  test("the parser sees the mesh's parent map in the latest DIO of each node") {
    val m = new Mesh(7, 12, 1)
    val parsed = findings(7).flatMap(_.dios)
    val last = parsed.groupBy(_.subjectNode).map { case (s, fs) => s -> fs.maxBy(_.epochMs) }
    val end = m.dioMs(0, 11) + Mesh.SlotMs
    (1 until m.nodes).foreach { a =>
      val preferred = last(m.dioId(a)).neighborLinks.filter(_.linkState == "to_target")
      assert(preferred.map(_.targetNode) == Seq(m.dioId(m.parentAt(a, end))))
    }
  }
}
