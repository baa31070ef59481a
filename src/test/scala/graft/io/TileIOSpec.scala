package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.TestSpark._
import graft.geom.{Crs, GridMapping}

class TileIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val gm = GridMapping.regular(8, 6, 50.0, 10.0, 0.1, 0.1, Crs.Geographic,
    tileSize = Some((4, 3)))
  val img = Array.tabulate(6, 8)((j, i) => (j * 8 + i).toDouble)

  test("tile table round-trips through partitioned parquet + JSON sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io").toString
    TileIO.writeTiles(toDs(tilesFrom("refl", img, gm)), dir, gm)
    val (ds, gm2) = TileIO.readTiles(spark, dir)
    assert(gm2 == gm)
    assertImage(toArray(ds.collect().toSeq, gm2, "refl"), img)
    // partitioned layout exists
    assert(new java.io.File(s"$dir/tiles/tj=0").exists())
    assert(new java.io.File(s"$dir/tiles/tj=1").exists())
  }

  test("clipped read prunes tile partitions before scanning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io2").toString
    TileIO.writeTiles(toDs(tilesFrom("refl", img, gm)), dir, gm)
    // bbox covering only the bottom tile row (y in 10.0..10.25 -> tj=1)
    val (ds, _) = TileIO.readTilesClipped(spark, dir, 50.0, 10.0, 50.8, 10.25)
    val tiles = ds.collect()
    assert(tiles.nonEmpty && tiles.forall(_.tj == 1))
    // pruning is visible in the plan as a partition filter on tj
    val p = ds.toDF().queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("tj"), p.take(1500))
  }

  // 7 x 5 in 3 x 2 tiles: ragged last tile column (1 px) and row (1 px)
  private val raggedGm = GridMapping.regular(7, 5, 50.0, 10.0, 0.1, 0.1, Crs.Geographic,
    tileSize = Some((3, 2)))
  private val oddBits: Array[Long] = Array(
    0x7ff8000000000123L, // quiet NaN with a payload
    0xfff0000000000001L, // signalling NaN, sign bit set
    java.lang.Double.doubleToRawLongBits(-0.0),
    java.lang.Double.doubleToRawLongBits(Double.PositiveInfinity),
    java.lang.Double.doubleToRawLongBits(Double.NegativeInfinity),
    1L, // smallest subnormal
    0x000fffffffffffffL, // largest subnormal
    0x800123456789abcdL) // negative subnormal
  private def oddImage(band: Int) = Array.tabulate(5, 7) { (j, i) =>
    val k = j * 7 + i + band
    if (k % 3 == 0) java.lang.Double.longBitsToDouble(oddBits(k % oddBits.length))
    else k * 1.5 - 20.0
  }

  test("round trip keeps every value's raw bits: NaN payloads, -0.0, Inf, subnormals, ragged tiles, two bands") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io-bits").toString
    val tiles = tilesFrom("v", oddImage(0), raggedGm) ++ tilesFrom("v", oddImage(1), raggedGm, band = 1) ++
      tilesFrom("w", oddImage(2), raggedGm)
    TileIO.writeTiles(toDs(tiles), dir, raggedGm)
    val back = TileIO.readTiles(spark, dir)._1.collect()
    def key(t: graft.model.Tile) = (t.varName, t.band, t.tj, t.ti)
    assert(back.map(key).sorted.toSeq == tiles.map(key).sorted)
    val byKey = back.map(t => key(t) -> t).toMap
    tiles.foreach { t =>
      val u = byKey(key(t))
      assert((u.h, u.w) == (t.h, t.w), s"shape of ${key(t)}")
      assert(u.data.map(java.lang.Double.doubleToRawLongBits).toSeq ==
        t.data.map(java.lang.Double.doubleToRawLongBits).toSeq, s"bits of ${key(t)}")
    }
    // every odd value made it into the written tiles
    val written = tiles.flatMap(_.data.map(java.lang.Double.doubleToRawLongBits)).toSet
    assert(oddBits.forall(written), "an odd value is missing from the fixture")
    assert(tiles.exists(t => t.w == 1) && tiles.exists(t => t.h == 1), "no ragged tile")
  }

  test("each tile is stored as one binary chunk of 8·h·w bytes, data not dictionary-encoded") {
    import org.apache.spark.sql.functions.{col, length}
    import org.apache.spark.sql.types.BinaryType
    val dir = java.nio.file.Files.createTempDirectory("graft-io-chunk").toString
    // one task, so each tile-row file holds 6 tiles
    TileIO.writeTiles(toDs(tilesFrom("v", oddImage(0), raggedGm) ++
      tilesFrom("v", oddImage(1), raggedGm, band = 1)).coalesce(1), dir, raggedGm)
    val stored = spark.read.parquet(s"$dir/tiles")
    assert(stored.schema("data").dataType == BinaryType, stored.schema.treeString)
    val sizes = stored.select(length(col("data")), col("h"), col("w")).collect()
    assert(sizes.length == 2 * raggedGm.numTilesX * raggedGm.numTilesY)
    sizes.foreach(r => assert(r.getInt(0) == 8 * r.getInt(1) * r.getInt(2), r.toString))
    // the footers: `data` is plain, the small columns keep their dictionary
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/tiles")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    assert(files.size == raggedGm.numTilesY)
    val chunks = files.flatMap { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f.toUri), conf))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
      finally reader.close()
    }
    val byName = chunks.groupBy(_.getPath.toDotString)
    assert(byName("data").forall(!_.hasDictionaryPage), "data has a dictionary page")
    assert(byName("varName").forall(_.hasDictionaryPage), "varName lost its dictionary")
  }

  test("a gathered 1039^2 target in 256^2 tiles over 4 partitions writes at most rows + partitions part files") {
    import graft.kernel.Window
    import graft.model.Tile
    import graft.ops.TileGather
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    val src = GridMapping.regular(64, 64, 565000.0, 5930000.0, 100.0, 100.0, Crs.utm(32, north = true), tileSize = Some((16, 16)))
    val dst = GridMapping.regular(1039, 1039, 565000.0, 5930000.0, 100.0, 100.0, Crs.utm(32, north = true), tileSize = Some((256, 256)))
    // every target tile reads a window, or the tiles right of column 2
    // read none and are fill tiles: both ride the same contiguous runs
    val everyTile = (dtj: Int, dti: Int) => TileGather.WindowRow(dtj, dti, 0, 0, 16, 16)
    val withFills = (dtj: Int, dti: Int) =>
      if (dti > 2) TileGather.WindowRow(dtj, dti, -1, -1, -1, -1) else everyTile(dtj, dti)
    for (windowOf <- Seq(everyTile, withFills)) {
      val out = TileGather.gatherWithWindows(toDs(tilesFrom("v", Array.tabulate(64, 64)((j, i) => j * 64.0 + i), src)),
        src, dst, windowOf,
        (dtj: Int, dti: Int) => (v: String, b: Int, _: Window) => {
          val h = dst.tileH(dtj); val w = dst.tileW(dti)
          Tile(v, b, dtj, dti, h, w, Array.tabulate(h * w)(k => (dtj * 256 + k / w) * 1039.0 + dti * 256 + k % w))
        })
      assert(out.rdd.getNumPartitions == 4)
      val dir = java.nio.file.Files.createTempDirectory("graft-io-parts").toString
      TileIO.writeTiles(out, dir, dst)
      val parts = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "tiles"))
        try st.filter(p => p.getFileName.toString.startsWith("part-")).count() finally st.close()
      }
      // contiguous runs hold 1, 1, 1 and 2 tile rows: 5 files, where
      // dealing tiles from every row to every task would write 20
      assert(parts <= dst.numTilesY + 4, s"$parts part files")
      val (back, _) = TileIO.readTiles(spark, dir)
      assert(toArray(back.collect().toSeq, dst, "v").flatten.sameElements(Array.tabulate(1039 * 1039)(_.toDouble)),
        "the store does not read back the image")
    }
  }

  test("addSpatialRef rewrites the CRS of an existing store in place (cfconv.py:320-358)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-io3").toString
    TileIO.writeTiles(toDs(tilesFrom("refl", img, gm)), dir, gm)
    assert(TileIO.readTiles(spark, dir)._2.crs == Crs.Geographic)
    TileIO.addSpatialRef(dir, Crs.utm(32, north = true))
    val (ds, gm2) = TileIO.readTiles(spark, dir)
    assert(gm2.crs.name == "EPSG:32632")
    assert(gm2.width == gm.width && gm2.xMin == gm.xMin) // geometry untouched
    assert(ds.count() == gm.numTilesX.toLong * gm.numTilesY) // tiles untouched
    // no store at all -> loud failure
    val ex = intercept[IllegalArgumentException](
      TileIO.addSpatialRef(s"$dir/nope", Crs.Geographic))
    assert(ex.getMessage.contains("no tile store"))
  }

  test("projected CRS survives the JSON sidecar via CF attrs") {
    val utmGm = GridMapping.regular(5, 5, 565250.0, 5933850.0, 100.0, 100.0,
      Crs.utm(32, north = true))
    val back = TileIO.gridMappingFromJson(TileIO.gridMappingToJson(utmGm))
    assert(back.crs.name == "EPSG:32632")
    assert(back == utmGm)
    val laeaGm = GridMapping.regular(3, 3, 4320000.0, 3380000.0, 80.0, 80.0, Crs.laea3035)
    assert(TileIO.gridMappingFromJson(TileIO.gridMappingToJson(laeaGm)) == laeaGm)
  }
}
