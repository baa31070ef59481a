package graft.ops

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark._
import graft.geom.{Crs, CrsTransformer, GridMapping}
import graft.kernel.{Interp, Reducers, Window}
import graft.model.Policies.{F64, VarPolicy}
import graft.model.Tile

/** The shared gather groups every (var, band) of a target tile into one
  * kernel call and ships source tiles cropped to their windows. These
  * specs pin that neither changes a pixel: variables never leak into
  * each other's tiles, and windows assembled from cropped pieces equal
  * windows assembled from whole tiles. Rectify runs both of its stages
  * on the same pieces; its specs pin the per-variable results, the fill
  * of uncovered target tiles and the plan shape (the lookup is shipped
  * once, not once per variable, in the one target-tile exchange).
  */
class TileGatherSpec extends AnyFunSuite {

  /** Reference window assembly from whole source tiles: copy the
    * overlapping part of each tile into a dense window array; cells no
    * tile covers stay NaN.
    */
  private def assembleWindow(
      p: TileGather.PlanRow, tiles: Array[Tile], srcTileW: Int, srcTileH: Int): Window = {
    val w = p.i1 - p.i0; val h = p.j1 - p.j0
    val data = Array.fill(math.max(0, w * h))(Double.NaN)
    tiles.foreach { t =>
      val tI0 = t.ti * srcTileW; val tJ0 = t.tj * srcTileH
      val ci0 = math.max(p.i0, tI0); val ci1 = math.min(p.i1, tI0 + t.w)
      val cj0 = math.max(p.j0, tJ0); val cj1 = math.min(p.j1, tJ0 + t.h)
      var j = cj0
      while (j < cj1) {
        var i = ci0
        while (i < ci1) {
          data((j - p.j0) * w + (i - p.i0)) = t.data((j - tJ0) * t.w + (i - tI0))
          i += 1
        }
        j += 1
      }
    }
    new Window(p.i0, p.j0, math.max(0, w), math.max(0, h), data)
  }

  private def sameBits(a: Seq[Tile], b: Seq[Tile]): Unit = {
    def key(t: Tile) = (t.varName, t.band, t.tj, t.ti)
    val bm = b.map(t => key(t) -> t).toMap
    assert(a.map(key).toSet == bm.keySet)
    a.foreach { t =>
      val u = bm(key(t))
      assert(t.h == u.h && t.w == u.w, s"shape at ${key(t)}")
      var k = 0
      while (k < t.data.length) {
        assert(java.lang.Double.doubleToLongBits(t.data(k)) ==
          java.lang.Double.doubleToLongBits(u.data(k)), s"at ${key(t)} px $k: ${t.data(k)} vs ${u.data(k)}")
        k += 1
      }
    }
  }

  test("reproject: 3 vars together == each var alone, bit for bit, on the driver and distributed plans") {
    val utm = GridMapping.regular(64, 64, 565000.0, 5930000.0, 100.0, 100.0,
      Crs.utm(32, north = true), Some((16, 16)))
    def img(seed: Int) = Array.tabulate(64, 64)((j, i) => seed * 1000.0 + j * 64 + i + 0.25 * ((i * j) % 7))
    val tiles = tilesFrom("a", img(1), utm) ++ tilesFrom("b", img(2), utm) ++
      tilesFrom("c", img(3), utm, band = 0) ++ tilesFrom("c", img(4), utm, band = 1)
    val pol = Map(
      "a" -> VarPolicy(Interp.NEAREST, Reducers.Mean, false, Double.NaN, F64),
      "b" -> VarPolicy(Interp.BILINEAR, Reducers.Mean, false, -1.0, F64),
      "c" -> VarPolicy(Interp.TRIANGULAR, Reducers.Mean, false, 7.5, F64))
    // the target starts at the source's footprint and runs twice as far
    // east, so its eastern tiles see no source at all
    val (bx0, by0, _, by1) = CrsTransformer(utm.crs, Crs.laea3035)
      .transformBounds(utm.xMin, utm.yMin, utm.xMax, utm.yMax)
    def dst(tile: Int) = GridMapping.regular(
      140, 140, bx0, by0, 100.0, (by1 - by0) / 140, Crs.laea3035, Some((tile, tile)))
    for (tile <- Seq(35, 2)) {
      val d = dst(tile)
      val distributed = d.numTilesX.toLong * d.numTilesY > TileGather.DriverPlanMaxTiles
      assert(distributed == (tile == 2))
      val all = ReprojectOp.reproject(toDs(tiles), utm, d, pol).collect().toSeq
      val alone = Seq("a", "b", "c").flatMap { v =>
        ReprojectOp.reproject(toDs(tiles.filter(_.varName == v)), utm, d, Map(v -> pol(v))).collect().toSeq
      }
      assert(all.size == d.numTiles * 4)
      sameBits(all, alone)
      // a fill-only tile: every pixel of every var is its fill value
      val fillOnly = all.groupBy(t => (t.tj, t.ti)).values.filter { ts =>
        ts.forall { t =>
          val f = pol(t.varName).fill
          t.data.forall(x => if (f.isNaN) x.isNaN else x == f)
        }
      }
      assert(fillOnly.nonEmpty, s"tile $tile: no fill-only target tile")
      assert(all.exists(t => t.varName == "c" && t.band == 1 && t.data.exists(x => x > 4000 && x < 5000)))
    }
  }

  private val utm64 = GridMapping.regular(64, 64, 565000.0, 5930000.0, 100.0, 100.0,
    Crs.utm(32, north = true), Some((16, 16)))

  test("driver-path gather: its pieces read no broadcast and no join, no tile data or plan row is broadcast, over a cut of range-mapped tiles") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object H extends AdaptiveSparkPlanHelper
    val s = spark
    import s.implicits._
    // the source as a generator makes it: tiles mapped from spark.range,
    // then cut; the range's estimate is 8 bytes per row, the cut's stats
    // are its measured bytes
    val whole = tilesFrom("a", Array.tabulate(64, 64)((j, i) => j * 64.0 + i), utm64).toArray
    val cut = graft.model.Lineage.cutDs(
      spark.range(0L, whole.length.toLong, 1L, 4).map(id => whole(id.toInt)), reliable = false)
    val payload = whole.map(_.data.length * 8L).sum
    assert(cut.queryExecution.optimizedPlan.stats.sizeInBytes >= payload,
      "premise: the cut's stats are at least its payload")
    val (bx0, by0, _, by1) = CrsTransformer(utm64.crs, Crs.laea3035)
      .transformBounds(utm64.xMin, utm64.yMin, utm64.xMax, utm64.yMax)
    val dst = GridMapping.regular(140, 140, bx0, by0, 100.0, (by1 - by0) / 140, Crs.laea3035, Some((35, 35)))
    assert(dst.numTiles <= TileGather.DriverPlanMaxTiles)
    val out = ReprojectOp.reproject(cut, utm64, dst,
      Map("a" -> VarPolicy(Interp.BILINEAR, Reducers.Mean, false, Double.NaN, F64)))
    assert(out.count() == dst.numTiles)
    // the driver's plan rows travel in the pieces' closure: nothing
    // feeding the target-tile exchange is broadcast or joined
    val plan = out.queryExecution.executedPlan
    val deals = H.collect(plan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough] => e
    }
    assert(deals.size == 1, s"${deals.size} target-tile exchanges:\n$plan")
    assert(H.find(deals.head.child)(_.isInstanceOf[BroadcastExchangeLike]).isEmpty, s"the pieces read a broadcast:\n$plan")
    assert(H.find(deals.head.child)(_.isInstanceOf[BaseJoinExec]).isEmpty, s"the pieces are joined:\n$plan")
    // this target has fill tiles, and they cross the same exchange:
    // nothing is broadcast
    assert(H.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty, s"a broadcast:\n$plan")
    graft.model.Lineage.release(cut)
  }

  test("a gather with fill tiles runs one exchange and 2 jobs: no broadcast, no aggregate") {
    import org.apache.spark.sql.GraftJobProbe
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    object H extends AdaptiveSparkPlanHelper
    val (bx0, by0, _, by1) = CrsTransformer(utm64.crs, Crs.laea3035)
      .transformBounds(utm64.xMin, utm64.yMin, utm64.xMax, utm64.yMax)
    val dst = GridMapping.regular(140, 140, bx0, by0, 100.0, (by1 - by0) / 140, Crs.laea3035, Some((35, 35)))
    val src = toDs(tilesFrom("a", Array.tabulate(64, 64)((j, i) => j * 64.0 + i), utm64))
    val pol = Map("a" -> VarPolicy(Interp.BILINEAR, Reducers.Mean, false, Double.NaN, F64))
    val out = ReprojectOp.reproject(src, utm64, dst, pol)
    val (tiles, jobs) = GraftJobProbe.jobs(spark)(out.collect())
    assert(tiles.length == dst.numTiles)
    // premise: the target's eastern tiles see no source
    assert(tiles.exists(_.data.forall(_.isNaN)), "no fill tile")
    // a second fill branch (a distinct of the source's (var, band)s,
    // broadcast into a nested-loop join and unioned after the exchange)
    // ran 4 jobs here: the aggregate, the broadcast, the map side and
    // the result; the pieces' map side and the result are left
    assert(jobs <= 2, s"$jobs jobs")
    val plan = out.queryExecution.executedPlan
    assert(H.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty, s"a broadcast:\n$plan")
    assert(H.collect(plan) { case a: BaseAggregateExec => a }.isEmpty, s"an aggregate:\n$plan")
  }

  test("a gather over a source with no tiles returns no tiles and does not throw, on the driver and distributed plans") {
    val s = spark
    import s.implicits._
    val none = utm64.copy(width = 0, height = 0)
    assert(none.numTiles == 0)
    for (nT <- Seq(4, 65)) {
      assert((nT.toLong * nT > TileGather.DriverPlanMaxTiles) == (nT == 65))
      val out = TileGather.gatherWithWindows(s.emptyDataset[Tile], none, nT, nT,
        (dtj: Int, dti: Int) => TileGather.WindowRow(dtj, dti, -1, -1, -1, -1),
        (v: String, b: Int, dtj: Int, dti: Int, win: Window) => Tile(v, b, dtj, dti, 0, 0, win.data))
      assert(out.collect().isEmpty, s"$nT x $nT target tiles")
    }
  }

  test("distributed-plan gather never broadcasts a cut source whose payload exceeds the threshold") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    object H extends AdaptiveSparkPlanHelper
    val s = spark
    import s.implicits._
    val whole = tilesFrom("a", Array.tabulate(64, 64)((j, i) => j * 64.0 + i), utm64).toArray
    val cut = graft.model.Lineage.cutDs(
      spark.range(0L, whole.length.toLong, 1L, 4).map(id => whole(id.toInt)), reliable = false)
    val payload = whole.map(_.data.length * 8L).sum
    // 65 x 65 target tiles: above the driver-plan limit, so the plan rows
    // are a distributed Dataset and the pieces join carries no hint
    val nT = 65
    assert(nT.toLong * nT > TileGather.DriverPlanMaxTiles)
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(threshold)
    spark.conf.set(threshold, (payload / 2).toString)
    try {
      val out = TileGather.gatherWithWindows(cut, utm64, nT, nT,
        (dtj: Int, dti: Int) => TileGather.WindowRow(dtj, dti, dti % 60, dtj % 60, dti % 60 + 4, dtj % 60 + 4),
        (v: String, b: Int, dtj: Int, dti: Int, win: Window) => Tile(v, b, dtj, dti, 1, 1, Array(win.data.sum)))
      assert(out.count() == nT * nT)
      val broadcasts = H.collect(out.queryExecution.executedPlan) {
        case b: BroadcastExchangeLike => b.output.map(_.name)
      }
      assert(broadcasts.forall(!_.contains("data")),
        s"a relation holding tile data is broadcast:\n${out.queryExecution.executedPlan}")
    } finally {
      spark.conf.set(threshold, prior)
      graft.model.Lineage.release(cut)
    }
  }

  /** Gather a fully covered `nTx` x `nTy` target grid (16 x 16 target
    * tiles over the 64 x 64 source) with a kernel that ignores its
    * window; returns the output's (partition id, dtj, dti) rows and
    * its number of partitions.
    */
  private def tilePartitions(nTx: Int, nTy: Int): (Seq[(Int, Int, Int)], Int) = {
    val src = toDs(tilesFrom("a", Array.tabulate(64, 64)((j, i) => j * 64.0 + i), utm64) ++
      tilesFrom("b", Array.tabulate(64, 64)((j, i) => -j * 64.0 - i), utm64))
    partitionsOf(TileGather.gatherWithWindows(src, utm64, nTx, nTy, window8,
      (v: String, b: Int, dtj: Int, dti: Int, win: Window) => Tile(v, b, dtj, dti, 1, 1, Array(win.data.sum))))
  }

  /** An 8 x 8 px window at (4 dti, 4 dtj), inside the 64 x 64 source
    * for the first 15 x 15 target tiles.
    */
  private val window8 = (dtj: Int, dti: Int) =>
    TileGather.WindowRow(dtj, dti, dti * 4, dtj * 4, dti * 4 + 8, dtj * 4 + 8)

  /** The (partition id, dtj, dti) rows of a gather's output and its
    * number of partitions.
    */
  private def partitionsOf(out: org.apache.spark.sql.Dataset[Tile]): (Seq[(Int, Int, Int)], Int) = {
    val s = spark
    import s.implicits._
    val tagged = out.toDF().select(org.apache.spark.sql.functions.spark_partition_id(), $"tj", $"ti")
      .as[(Int, Int, Int)]
    (tagged.collect().toSeq, tagged.rdd.getNumPartitions)
  }

  test("target tiles are dealt evenly over the partitions: 25 tiles over 4 partitions, 6 or 7 each") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val (rows, numPartitions) = tilePartitions(5, 5)
    assert(numPartitions == 4)
    assert(rows.size == 25 * 2)
    // each target tile, with both its variables, in one partition
    val pidOf = rows.groupBy(r => (r._2, r._3)).map { case (t, rs) =>
      assert(rs.map(_._1).distinct.size == 1, s"tile $t split over partitions"); t -> rs.head._1 }
    assert(pidOf.size == 25)
    val perPartition = pidOf.groupBy(_._2).map { case (p, ts) => p -> ts.size }
    assert(perPartition.keySet == Set(0, 1, 2, 3), perPartition.toString)
    assert(perPartition.values.forall(n => n == 6 || n == 7), perPartition.toString)
  }

  test("more partitions than target tiles: one tile per task, no task empty") {
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val (rows, numPartitions) = tilePartitions(3, 2)
      assert(numPartitions == 6)
      val perPartition = rows.groupBy(_._1).map { case (p, rs) => p -> rs.map(r => (r._2, r._3)).distinct.size }
      assert(perPartition.keySet == (0 until 6).toSet, perPartition.toString)
      assert(perPartition.values.forall(_ == 1), perPartition.toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("1039^2 target in 256^2 tiles over 4 partitions: contiguous row-major runs of about a quarter of the pixels each") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    // 1039 = 4 * 256 + 15: the last tile row and column are 15 px
    val dst = GridMapping.regular(1039, 1039, 565000.0, 5930000.0, 100.0, 100.0, Crs.utm(32, north = true), Some((256, 256)))
    val (rows, numPartitions) = partitionsOf(TileGather.gatherWithWindows(
      toDs(tilesFrom("a", Array.tabulate(64, 64)((j, i) => j * 64.0 + i), utm64)), utm64, dst, window8,
      (dtj: Int, dti: Int) => (v: String, b: Int, win: Window) => Tile(v, b, dtj, dti, 1, 1, Array(win.data.sum))))
    assert(numPartitions == 4)
    assert(rows.map(r => (r._2, r._3)).sorted == (for (tj <- 0 until 5; ti <- 0 until 5) yield (tj, ti)))
    val byPartition = rows.groupBy(_._1).map { case (p, rs) => p -> rs.map(r => r._2 * 5 + r._3).sorted }
    assert(byPartition.keySet == Set(0, 1, 2, 3), byPartition.toString)
    // partition p holds the row-major indices right after partition p - 1's
    val runs = (0 until 4).map(byPartition)
    runs.foreach(r => assert(r == (r.head to r.last), s"not contiguous: $r"))
    assert(runs.head.head == 0 && runs.last.last == 24 &&
      runs.sliding(2).forall { case Seq(a, b) => b.head == a.last + 1 }, runs.toString)
    val maxTile = 256L * 256
    val total = 1039L * 1039
    runs.foreach { r =>
      val px = r.map(k => dst.tileH(k / 5).toLong * dst.tileW(k % 5)).sum
      assert(math.abs(px * 4 - total) <= 4 * maxTile, s"run $r holds $px of $total px")
      assert(r.map(_ / 5).distinct.size <= 2, s"run $r spans more than 2 tile rows")
    }
  }

  test("windows assembled from cropped pieces == assembleWindow over the whole tiles") {
    // 50 x 37 source in 16 x 16 tiles: the last tile column is 2 px
    // wide, the last tile row 5 px tall
    val srcW = 50; val srcH = 37; val tw = 16; val th = 16
    val gm = GridMapping.regular(srcW, srcH, 0.0, 0.0, 1.0, 1.0, Crs.Geographic, Some((tw, th)))
    val img = Array.tabulate(srcH, srcW)((j, i) => j * 100.0 + i)
    val tiles = tilesFrom("v", img, gm)
    val rnd = new Random(7)
    def check(i0: Int, j0: Int, i1: Int, j1: Int): Int = {
      val rows = TileGather.planRowsOf(tw, th, gm.numTilesX, gm.numTilesY, 5,
        TileGather.WindowRow(3, 4, i0, j0, i1, j1))
      val srcTiles = rows.map(p => tiles.find(t => t.tj == p.srcTj && t.ti == p.srcTi).get).toArray
      val whole = assembleWindow(rows.head, srcTiles, tw, th)
      val pieces = rows.zip(srcTiles).map { case (p, t) => TileGather.crop(t, p, tw, th) }
      assert(pieces.forall(pc => pc.dtj == 3 && pc.dti == 4))
      assert(pieces.map(_.data.length).sum <= (i1 - i0) * (j1 - j0))
      val cropped = TileGather.assemblePieces(pieces)
      assert((cropped.i0, cropped.j0, cropped.w, cropped.h) == (whole.i0, whole.j0, whole.w, whole.h))
      assert(cropped.data.toSeq.map(java.lang.Double.doubleToLongBits) ==
        whole.data.toSeq.map(java.lang.Double.doubleToLongBits), s"window ($i0,$j0)-($i1,$j1)")
      srcTiles.length
    }
    // 1x1, 2x2 and 3x2 source tiles; a 1-pixel window
    assert(check(2, 3, 9, 12) == 1)
    assert(check(10, 12, 20, 22) == 4)
    assert(check(5, 5, 40, 20) == 6)
    assert(check(17, 18, 18, 19) == 1)
    // windows clipped at the source edge: they reach the narrow last
    // tile column / row, or run past the image
    assert(check(35, 20, srcW, srcH) == 4)
    assert(check(0, 0, srcW, srcH) == 12)
    check(45, 30, srcW + 6, srcH + 3)
    for (_ <- 0 until 300) {
      val i0 = rnd.nextInt(srcW); val j0 = rnd.nextInt(srcH)
      val i1 = i0 + 1 + rnd.nextInt(srcW - i0); val j1 = j0 + 1 + rnd.nextInt(srcH - j0)
      check(i0, j0, i1, j1)
    }
  }

  // a rotated 8 x 8 swath in 4 x 4 tiles; the 140 x 140 targets overrun
  // it, so most of their tiles see no source at all
  private val swathGm = GridMapping.regular(8, 8, 10.0, 40.0, 0.1, 0.1, Crs.Geographic, Some((4, 4)))
    .copy(isRegular = false)
  private def swathCoords = {
    val c = math.cos(0.2); val s = math.sin(0.2)
    val lon = Array.tabulate(8, 8)((j, i) => 10.0 + (i + 0.5) * c * 0.1 - (j + 0.5) * s * 0.1)
    val lat = Array.tabulate(8, 8)((j, i) => 40.8 - (j + 0.5) * c * 0.1 - (i + 0.5) * s * 0.1)
    toDs(tilesFrom("x", lon, swathGm) ++ tilesFrom("y", lat, swathGm))
  }
  private def swathDst(tile: Int) = GridMapping.regular(
    140, 140, 9.0, 39.0, 0.02, 0.02, Crs.Geographic, Some((tile, tile)))
  // two variables with different interpolation and fill, two bands each
  private val swathPol = Map(
    "a" -> VarPolicy(Interp.NEAREST, Reducers.Mean, false, Double.NaN, F64),
    "b" -> VarPolicy(Interp.BILINEAR, Reducers.Mean, false, -1.0, F64))
  private val swathTiles = for {
    (v, k) <- Seq("a" -> 1, "b" -> 2); band <- 0 to 1
  } yield tilesFrom(v, Array.tabulate(8, 8)((j, i) => k * 1000.0 + band * 100.0 + j * 8 + i + 0.5 * (i % 3)),
    swathGm, band = band)

  test("rectify: 2 vars x 2 bands together == each var alone, one tile per (var, band) and target tile, on the driver and distributed plans") {
    val tiles = swathTiles.flatten
    for (tile <- Seq(35, 2)) {
      val d = swathDst(tile)
      val distributed = d.numTilesX.toLong * d.numTilesY > TileGather.DriverPlanMaxTiles
      assert(distributed == (tile == 2))
      val all = RectifyOp.rectify(toDs(tiles), swathCoords, swathGm, d, swathPol).collect().toSeq
      val alone = Seq("a", "b").flatMap { v =>
        RectifyOp.rectify(toDs(tiles.filter(_.varName == v)), swathCoords, swathGm, d, Map(v -> swathPol(v)))
          .collect().toSeq
      }
      assert(all.size == d.numTiles * 4)
      assert(all.map(t => (t.varName, t.band, t.tj, t.ti)).distinct.size == d.numTiles * 4)
      sameBits(all, alone)
      // fill-only target tiles carry each variable's own fill ...
      val byTile = all.groupBy(t => (t.tj, t.ti)).values
      assert(byTile.exists(ts => ts.forall(t =>
        if (t.varName == "a") t.data.forall(_.isNaN) else t.data.forall(_ == -1.0))), s"tile $tile: no fill-only tile")
      // ... and each band samples its own source image
      for (v <- Seq("a", "b"); band <- 0 to 1) {
        val lo = (if (v == "a") 1000.0 else 2000.0) + band * 100.0
        assert(all.exists(t => t.varName == v && t.band == band && t.data.exists(x => x >= lo && x < lo + 70)),
          s"tile $tile: no source value in ($v, $band)")
      }
    }
  }

  test("rectify onto a target the swath misses: every (var, band, target tile) once, holding its fill, on the driver and distributed plans") {
    val tiles = swathTiles.flatten
    for (tile <- Seq(35, 2)) {
      // 10 degrees east of the swath, beyond any xy border
      val d = GridMapping.regular(140, 140, 20.0, 39.0, 0.02, 0.02, Crs.Geographic, Some((tile, tile)))
      assert((d.numTilesX.toLong * d.numTilesY > TileGather.DriverPlanMaxTiles) == (tile == 2))
      assert(RectifyOp.computeLookup(swathCoords, swathGm, d).count() == 0)
      val all = RectifyOp.rectify(toDs(tiles), swathCoords, swathGm, d, swathPol).collect().toSeq
      assert(all.map(t => (t.varName, t.band, t.tj, t.ti)).sorted ==
        (for (v <- Seq("a", "b"); b <- 0 to 1; tj <- 0 until d.numTilesY; ti <- 0 until d.numTilesX)
          yield (v, b, tj, ti)).sorted)
      all.foreach { t =>
        assert(t.h == d.tileH(t.tj) && t.w == d.tileW(t.ti))
        val f = swathPol(t.varName).fill
        assert(t.data.forall(x => if (f.isNaN) x.isNaN else x == f), s"tile $tile: ${(t.varName, t.band, t.tj, t.ti)}")
      }
    }
  }

  test("rectify builds a lookup tile only for the target tiles it covers") {
    for (tile <- Seq(35, 2)) {
      val d = swathDst(tile)
      // "a" is nearest with NaN fill over NaN-free data: a target tile
      // holds a number iff some lookup pixel of it is set
      val covered = RectifyOp.rectify(toDs(swathTiles.flatten), swathCoords, swathGm, d, swathPol)
        .collect().filter(t => t.varName == "a" && t.band == 0 && t.data.exists(!_.isNaN))
        .map(t => (t.tj, t.ti)).toSet
      assert(covered.nonEmpty && covered.size < d.numTiles)
      val lookups = RectifyOp.computeLookup(swathCoords, swathGm, d).collect()
      assert(lookups.map(p => (p.dtj, p.dti)).toSet == covered, s"tile $tile")
      assert(lookups.length == covered.size, s"tile $tile")
    }
  }

  test("rectify with a coordinate tile missing names the tile") {
    val coords = swathCoords.filter(t => !(t.varName == "y" && t.tj == 1 && t.ti == 0))
    val e = intercept[Exception] {
      RectifyOp.rectify(toDs(swathTiles.flatten), coords, swathGm, swathDst(35), swathPol).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toList
    assert(messages.exists(m => m != null && m.contains("missing x or y coord tile at (1,0)")), messages.mkString("\n"))
  }

  test("rectify plan: no cross join of the lookup, the variable stage exchanges on the target tile only, no extra job") {
    import org.apache.spark.sql.catalyst.plans.physical.ShufflePartitionIdPassThrough
    import org.apache.spark.sql.execution.{CoGroupExec, RDDScanExec, SparkPlan, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    object H extends AdaptiveSparkPlanHelper
    val tiles = toDs(swathTiles.flatten)
    val d = swathDst(35)
    val plan: SparkPlan = RectifyOp.rectify(tiles, swathCoords, swathGm, d, swathPol).queryExecution.executedPlan
    assert(!plan.toString.contains("CartesianProduct"), s"cartesian:\n$plan")
    // no nested-loop join: the window-less target tiles' fills ride the
    // target-tile exchange with every other piece
    assert(H.collect(plan) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty, s"a nested-loop join:\n$plan")
    assert(H.collect(plan) { case c: CoGroupExec => c }.isEmpty, s"a cogroup:\n$plan")
    // the variable stage is fed by one exchange, the target-tile deal of
    // byTargetTile, carrying the checkpointed lookup and the variable
    // pieces together; on this driver plan the variable pieces are one
    // flatMap of the source tiles, with no join
    def readsLookup(p: SparkPlan): Boolean = H.find(p)(_.isInstanceOf[RDDScanExec]).isDefined
    val lookupExchanges = H.collect(plan) { case e: ShuffleExchangeLike if readsLookup(e) => e }
    assert(lookupExchanges.size == 1, s"${lookupExchanges.size} exchanges read the lookup:\n$plan")
    val e = lookupExchanges.head
    e.outputPartitioning match {
      case p: ShufflePartitionIdPassThrough =>
        assert(p.expr.references.map(_.name).toSet == Set("dtj", "dti"), s"variable stage keyed on ${p.expr}:\n$plan")
      case other => fail(s"variable stage partitioned by $other:\n$plan")
    }
    val union = H.collect(e) { case u: UnionExec => u }
    assert(union.size == 1 && union.head.children.size == 2, s"exchange input:\n$plan")
    assert(union.head.children.count(readsLookup) == 1 &&
      union.head.children.count(c => !readsLookup(c) && H.find(c)(_.isInstanceOf[BaseJoinExec]).isEmpty) == 1,
      s"exchange input:\n$plan")
    assert(H.find(e.child)(_.isInstanceOf[ShuffleExchangeLike]).isEmpty,
      s"a second exchange feeds the variable stage:\n$plan")
    // one call and its count(): with the fills on a second branch (an
    // inventory aggregate, its broadcast and a union) this shape started
    // 11 jobs; with the fills crossing the target-tile exchange, 9
    val (_, jobs) = org.apache.spark.sql.GraftJobProbe.jobs(spark)(
      RectifyOp.rectify(tiles, swathCoords, swathGm, d, swathPol).count())
    assert(jobs <= 9, s"$jobs jobs")
  }
}
