package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

class BenchSuite extends AnyFunSuite {
  private val sf = "/data/sf0.1"

  private def detail(dir: Path, name: String, cpus: Option[Int], median: Double): Unit =
    Files.writeString(dir.resolve(name),
      s"""{"iters":3,${cpus.fold("")(c => s""""cpus":$c,""")}"detail":{"q01_x":{"median":$median}},"sf":"$sf"}""")

  test("prior medians come from a run with the same sf and core count") {
    val dir = Files.createTempDirectory("bench-prior")
    assert(Bench.priorMediansIn(dir, sf, "4").isEmpty)
    // the plain file holds the scaling pass's core count: fall back to the
    // cpu-suffixed copy
    detail(dir, "BENCH_DETAIL.json", Some(8), 1.0)
    assert(Bench.priorMediansIn(dir, sf, "4").isEmpty)
    detail(dir, "BENCH_DETAIL_c4.json", Some(4), 2.0)
    assert(Bench.priorMediansIn(dir, sf, "4") == Map("q01_x" -> 2.0))
    assert(Bench.priorMediansIn(dir, sf, "8") == Map("q01_x" -> 1.0))
    assert(Bench.priorMediansIn(dir, "/data/sf0.01", "8").isEmpty)
    // a detail file without "cpus" cannot prove it matches
    detail(dir, "BENCH_DETAIL.json", None, 3.0)
    assert(Bench.priorMediansIn(dir, sf, "4") == Map("q01_x" -> 2.0))
    assert(Bench.priorMediansIn(dir, sf, "8").isEmpty)
  }
}
