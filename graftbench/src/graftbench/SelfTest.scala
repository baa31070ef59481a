package graftbench

import java.nio.file.{Files, Paths}

/** The benchmark's own tests, at small sizes: generators are pure
  * functions of the seed, and every workload passes its checks with a
  * checksum that repeats for the same seed and changes with the seed.
  *
  * {{{ python3 graftbench/run.py --selftest }}}
  */
object SelfTest {

  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"graftbench selftest: ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val workDir = Paths.get(argv.sliding(2).collectFirst { case Array("--work-dir", d) => d }
      .getOrElse(throw new IllegalArgumentException("missing --work-dir"))).toAbsolutePath.resolve("selftest")
    Files.createDirectories(workDir)

    expect(Gen.rasterValue(7, 0, 10, 20).equals(Gen.rasterValue(7, 0, 10, 20)) &&
      !Gen.rasterValue(7, 0, 10, 20).equals(Gen.rasterValue(8, 0, 10, 20)), "raster field is a function of the seed")
    val nan = (0 until 200000).count(k => Gen.rasterValue(7, 1, k % 1000, k / 1000).isNaN)
    expect(nan > 100 && nan < 300, s"raster NaN share near ${Gen.NanShare} ($nan of 200000)")
    expect(Gen.docRanks(7, 123).sameElements(Gen.docRanks(7, 123)) &&
      !Gen.docRanks(7, 123).sameElements(Gen.docRanks(8, 123)), "documents are a function of the seed")
    val copies = (0L until 20000L).count(Gen.copySource(7, _) >= 0)
    expect(math.abs(copies / 20000.0 - Gen.CopyShare) < 0.01, s"near-dup share near ${Gen.CopyShare} ($copies of 20000)")
    expect(Gen.swathField(7, 0, 5.1, 51.9) != Gen.swathField(8, 0, 5.1, 51.9), "swath field is a function of the seed")

    val spark = Main.session(workDir)
    try {
      val tr = new Tracer(false, spark.sparkContext, new SpanListener)
      for (name <- Seq("reproject", "dedup")) {
        def checksum(seed: Long): Seq[(String, Double)] = {
          val wl = Main.make(name, spark, seed, workDir, reprojectN = 512, dedupDocs = 1500)
          wl.setup()
          wl.iterate(0, tr, new Facts)
          val (sum, fails) = wl.check(0, tr, new Facts)
          graft.model.Lineage.drainRetired()
          fails.foreach(f => println(s"graftbench selftest: $name seed $seed: $f"))
          expect(fails.isEmpty, s"$name seed $seed passes its output checks ${Main.fmt(sum)}")
          sum
        }
        val a = checksum(1); val b = checksum(1); val c = checksum(2)
        expect(Main.sameChecksum(a, b, 0.0), s"$name: same seed, same checksum")
        expect(!Main.sameChecksum(a, c, 0.0), s"$name: different seed, different checksum")
      }
    } finally spark.stop()
    println(s"graftbench selftest: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
