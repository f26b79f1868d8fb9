package graft

import org.scalatest.funsuite.AnyFunSuite

/** The §5 shuffle-parallelism rule: partitions scale with input bytes
  * (~32 MB parquet ≈ 128 MB in-memory per partition), floored at the
  * core count, capped against task-launch overload. Sparse files give
  * the rule arbitrary directory sizes without writing real bytes.
  * The heap-aware advisory partition size is a pure function too; no
  * case here builds a session. */
class GraftSessionSpec extends AnyFunSuite {

  private def dirOfBytes(n: Long): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-size").toFile
    val f = new java.io.RandomAccessFile(new java.io.File(d, "part.parquet"), "rw")
    f.setLength(n) // sparse: length counts, no disk I/O
    f.close()
    d.toString
  }

  test("small inputs floor at the core count (sf0.01 with 8 cores -> 8)") {
    assert(GraftSession.shufflePartitionsFor("/root/testdata/sf0.01", 8) == 8)
    // and the floor is the CORE count, not a constant
    assert(GraftSession.shufflePartitionsFor("/root/testdata/sf0.01", 32) == 32)
  }

  test("large inputs scale: 1 GiB x4 expansion / 32 MiB = 128 partitions") {
    assert(GraftSession.shufflePartitionsFor(dirOfBytes(1L << 30), 8) == 128)
  }

  test("cap bounds the count for one local JVM") {
    assert(GraftSession.shufflePartitionsFor(dirOfBytes(64L << 30), 8) == 4096)
  }

  test("missing directory degrades to the core floor, never throws") {
    assert(GraftSession.shufflePartitionsFor("/no/such/dir", 16) == 16)
  }

  test("advisory size: 8 GiB over 32 cores is 8 MiB (the sf20 fuzzy_match value)") {
    assert(GraftSession.advisoryBytesFor(8L << 30, 32) == (8L << 20))
  }

  test("advisory size is clamped to [2 MiB, 64 MiB]") {
    assert(GraftSession.advisoryBytesFor(1L << 30, 64) == (2L << 20))
    assert(GraftSession.advisoryBytesFor(512L << 30, 4) == (64L << 20))
    // inside the clamp the rule is heap / (cores x 32): 7 GiB / 4 cores
    assert(GraftSession.advisoryBytesFor(7L << 30, 4) == (56L << 20))
  }
}
