package graft.bench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  test("self time subtracts the union of overlapping children, clipped to the parent") {
    val spans = Seq(
      Span(1, 0, "download", 0, 100),
      // concurrent fetches: [10,40) and [30,60) overlap; [90,120) runs past
      // the parent's end and counts only up to 100
      Span(2, 1, "fetch", 10, 40),
      Span(3, 1, "fetch", 30, 60),
      Span(4, 1, "fetch", 90, 120),
      // a grandchild is covered by its own parent, not by the root
      Span(5, 2, "read", 15, 20))
    val self = Span.selfTimes(spans)
    assert(self(1) == 100 - (50 + 10))
    assert(self(2) == 30 - 5)
    assert(self(3) == 30)
    assert(self(5) == 5)
  }

  test("union length merges touching and nested intervals") {
    assert(Span.unionLength(Seq((0L, 10L), (10L, 20L), (2L, 5L))) == 20)
    assert(Span.unionLength(Seq((5L, 5L), (7L, 3L))) == 0)
    assert(Span.unionLength(Nil) == 0)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(p =>
      p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def month(seed: Long): (MonthGen.Month, Map[String, Seq[Byte]]) = {
    Files.createDirectories(Paths.get("target"))
    val dir = Files.createTempDirectory(Paths.get("target"), "monthgen")
    val m = MonthGen.write(dir, seed, 40)
    val f = files(dir)
    Ingest.delete(dir)
    (m, f)
  }

  test("the month generator repeats its bytes for a seed and changes them for another") {
    val (a, filesA) = month(7)
    val (b, filesB) = month(7)
    val (c, filesC) = month(8)
    assert(a == b)
    assert(filesA == filesB)
    assert(filesA.keySet == filesC.keySet)
    // every archive's content depends on the seed; the listing does not
    assert((filesA.keySet - "listing.html").forall(n => filesA(n) != filesC(n)))
    assert(a.rows == c.rows)
  }

  test("the month has the real dump's shape") {
    val (m, f) = month(1)
    assert(m.archives.size == 37)
    assert(m.archives.count(_.startsWith("Estabelecimentos")) == 10)
    assert(m.rows("rfb_estabelecimentos") == 400)
    assert(m.rows.size == graft.pipeline.RfbTables.routing.size)
    assert(m.archives.toSet + "listing.html" == f.keySet)
    assert(m.csvUtf8Bytes > 0)
  }
}
