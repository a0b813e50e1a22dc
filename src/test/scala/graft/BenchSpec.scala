package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("per-cpu detail file: the suffix goes before the file name's extension") {
    assert(Bench.cpuSibling("/srv/out/BENCH.json", "8") == "/srv/out/BENCH_c8.json")
    assert(Bench.cpuSibling("BENCH.json", "8") == "BENCH_c8.json")
    assert(Bench.cpuSibling("/data/run.1/BENCH", "32") == "/data/run.1/BENCH_c32")
    assert(Bench.cpuSibling("/data/.bench", "4") == "/data/.bench_c4")
    assert(Bench.cpuSibling("BENCH", "4") == "BENCH_c4")
  }
}
