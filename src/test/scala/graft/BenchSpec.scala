package graft

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's measurement-hygiene logic, pinned with synthetic
  * stalls: the canary-normalized retime trigger ([[Bench.isSuspect]] /
  * [[Bench.hostFactor]]) — the predicate that decides both the isolated
  * retime AND the `stall_suspect` marking when a value persists across
  * three windows — and the scale-derived AQE reducer default
  * ([[BenchSession.derivedInitialReducers]]).
  */
class BenchSpec extends AnyFunSuite {

  test("hostFactor: loosens for a slower host, never tightens, clamped at 3x") {
    assert(Bench.hostFactor(0.4, Some(0.2)) == 2.0)
    assert(Bench.hostFactor(0.1, Some(0.2)) == 1.0, "a faster host never tightens")
    assert(Bench.hostFactor(2.0, Some(0.2)) == 3.0, "clamped so a broken canary cannot silence the ratchet")
    assert(Bench.hostFactor(0.4, None) == 1.0, "no recorded canary → no normalization")
  }

  test("isSuspect: a synthetic stall trips the trigger; host drift alone does not") {
    // gate best 1.0 s in a canary-0.2 window; the host is now 0.3 (1.5x slower)
    val hostF = Bench.hostFactor(0.3, Some(0.2))
    assert(!Bench.isSuspect(2.9, Some(1.0), hostF, suiteMedian = 0.4),
      "2.9 s at 1.5x host drift is under the 2x-normalized bar (3.0)")
    assert(Bench.isSuspect(3.1, Some(1.0), hostF, suiteMedian = 0.4),
      "a stall pushing past the normalized bar must trip the isolated retime")
    // the same predicate re-applied to the retimed value IS the
    // stall_suspect decision: a persisting 3.1 stays suspect, a retime
    // that recovered to 1.1 does not
    assert(Bench.isSuspect(3.1, Some(1.0), hostF, 0.4))
    assert(!Bench.isSuspect(1.1, Some(1.0), hostF, 0.4))
  }

  test("isSuspect: sub-0.3 s jitter and reference-less gates use their own floors") {
    assert(!Bench.isSuspect(0.29, Some(0.1), 1.0, 0.4),
      "0.3 s floor keeps tenth-second jitter out of the retime pass")
    assert(Bench.isSuspect(2.5, None, 1.0, suiteMedian = 0.4),
      "no reference: 4x suite median and 2 s")
    assert(!Bench.isSuspect(1.5, None, 1.0, suiteMedian = 0.4),
      "no reference, under the 2 s floor: not suspect")
    assert(!Bench.isSuspect(-1.0, Some(0.1), 1.0, 0.4), "failed gates never retime")
  }

  /** A temp dir holding one sparse file that reads as 12 GB of length:
    * 12 GB / 48 MB = 256 reducers. */
  private def withSparse12Gb(body: java.nio.file.Path => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("bench-reducers")
    val f = dir.resolve("blob")
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try { ch.write(java.nio.ByteBuffer.wrap(Array[Byte](1)), 12L * 1024 * 1024 * 1024 - 1) }
    finally ch.close()
    try body(dir) finally { java.nio.file.Files.delete(f); java.nio.file.Files.delete(dir) }
  }

  test("derivedInitialReducers: cpus at the local rungs, input-proportional past ~1.5 GB") {
    // the official sf0.1 fixture (~18 MB) must stay at the core count so
    // BENCH_REF comparability is preserved by construction
    assert(BenchSession.derivedInitialReducers("/root/testdata/sf0.1", 32, new Configuration()) == 32)
    assert(BenchSession.derivedInitialReducers("/nonexistent", 32, new Configuration()) == 32,
      "unreadable input → cpus (never crash the bench over a du)")
    // the derivation itself: bytes / 48 MB, floored at cpus, capped 4096
    // (pinned via a synthetic dir)
    withSparse12Gb { dir =>
      assert(BenchSession.derivedInitialReducers(dir.toString, 32, new Configuration()) == 256)
    }
  }

  test("derivedInitialReducers sizes the sf dir through the passed conf") {
    // `sessfs:` is mapped only in this conf, the way s3a credentials or
    // hdfs HA names live only in the session's `spark.hadoop.*` settings:
    // a fresh Configuration cannot open the store and sizes it as empty
    val conf = new Configuration()
    conf.set("fs.sessfs.impl", classOf[graft.exec.SessionSchemeFs].getName)
    conf.setBoolean("fs.sessfs.impl.disable.cache", true)
    withSparse12Gb { dir =>
      assert(BenchSession.derivedInitialReducers(s"sessfs://$dir", 32, conf) == 256)
      assert(BenchSession.derivedInitialReducers(s"sessfs://$dir/missing", 32, conf) == 32,
        "a missing dir gives cpus")
    }
  }
}
