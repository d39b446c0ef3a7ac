package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench`'s stdout line: which rows it shows is a function of
  * the row names alone, so every run reports the same rows.
  */
class BenchSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq
  private val run = Bench.Run("testdata/sf0.1", 2.5, Seq(1.3, 1.4),
    Seq(2900L, 2950L), Nil)

  private def shown(line: String): Seq[String] = {
    val qs = line.split("\"queries\":\\{", 2)(1).takeWhile(_ != '}')
    qs.split(",").toSeq.map(_.takeWhile(_ != ':').stripPrefix("\"").stripSuffix("\""))
  }

  test("two timing maps of different magnitudes show the same rows, in name order") {
    val fast = names.map(n => n -> 0.001)
    val slow = names.zipWithIndex.map { case (n, i) => n -> (1000.0 + 37.5 * i) }
    val a = Bench.stdoutLine(run, fast)
    val b = Bench.stdoutLine(run.copy(load = 31.25, rssMb = Seq(123456L, 234567L)), slow)
    assert(a.length <= 1600 && b.length <= 1600, s"${a.length} / ${b.length} chars")
    assert(shown(a) === shown(b))
    assert(shown(a) === names.sorted.take(shown(a).length))
    assert(shown(a).length < names.length, "the full map no longer needs a prefix")
    val omitted = s""""omitted":${names.length - shown(a).length},"""
    assert(a.contains(omitted) && b.contains(omitted))
  }
}
