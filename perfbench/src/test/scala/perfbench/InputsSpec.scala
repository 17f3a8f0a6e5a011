package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val names = (1 to 40).map(i => f"q$i%03d_query")

  private def staged(seed: Long): Seq[Inputs.Msg] =
    IngestRun.layout(2).zipWithIndex.flatMap { case ((first, n), f) =>
      Inputs.file(seed, f, first, n)
    }

  private def bytes(ms: Seq[Inputs.Msg]): Seq[Seq[Byte]] = ms.map(_.value.toSeq)

  test("the same seed gives byte-identical messages, malformed positions and query order") {
    val a = staged(7)
    val b = staged(7)
    assert(bytes(a) == bytes(b))
    assert(a.map(m => (m.seq, m.topic, m.malformed)) == b.map(m => (m.seq, m.topic, m.malformed)))
    assert(Inputs.malformedPositions(7, 3, 1000) == Inputs.malformedPositions(7, 3, 1000))
    assert(Inputs.queryOrder(names, 7) == Inputs.queryOrder(names.reverse, 7))
  }

  test("a different seed gives different messages, malformed positions and query order") {
    assert(bytes(staged(7)) != bytes(staged(8)))
    assert(Inputs.malformedPositions(7, 3, 1000) != Inputs.malformedPositions(8, 3, 1000))
    assert(Inputs.queryOrder(names, 7) != Inputs.queryOrder(names, 8))
  }

  test("the malformed share is exact per file and sequence numbers are dense") {
    val ms = staged(11)
    assert(ms.map(_.seq) == ms.indices.map(_.toLong))
    IngestRun.layout(2).zipWithIndex.foreach { case ((first, n), _) =>
      val inFile = ms.slice(first.toInt, first.toInt + n)
      assert(inFile.count(_.malformed) == n * Inputs.MalformedPerMille / 1000)
    }
  }

  test("valid messages decode to JSON carrying their seq; malformed ones do not parse") {
    staged(5).take(2000).foreach { m =>
      val text = scala.util.Try(
        new String(org.xerial.snappy.Snappy.uncompress(m.value), "UTF-8")).toOption
      if (!m.malformed) {
        assert(text.exists(_.startsWith(s"""{"seq": ${m.seq},""")))
        assert(text.exists(_.endsWith("}")))
      } else assert(text.forall(t => !(t.startsWith("{") && t.endsWith("}"))))
    }
  }
}
