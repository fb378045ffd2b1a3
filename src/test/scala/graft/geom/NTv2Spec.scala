package graft.geom

import java.nio.ByteOrder

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class NTv2Spec extends AnyFunSuite with SparkTestSession with Matchers {

  // A CONUS-window grid (lat 25..49°N, lon 125..67°W — NTv2 stores
  // arc-seconds positive WEST) with 1° cells and a shift field that is
  // exactly bilinear in the node indices, with every node value an exact
  // float32 (integer / 1024), so bilinear interpolation must reproduce
  // the analytic surface to double rounding.
  private def bilinearGrid: NTv2.Grid = {
    val (rows, cols) = (25, 59)
    val lat = Array.tabulate(rows * cols) { idx =>
      val (i, j) = (idx / cols, idx % cols)
      ((1024 + 8 * i + 4 * j + i * j).toFloat / 1024.0f)
    }
    val lon = Array.tabulate(rows * cols) { idx =>
      val (i, j) = (idx / cols, idx % cols)
      ((2048 + 4 * i + 8 * j + i * j).toFloat / 1024.0f)
    }
    NTv2.Grid(Vector(NTv2.SubGrid("CONUS", "NONE",
      sLat = 25 * 3600.0, nLat = 49 * 3600.0,
      eLong = 67 * 3600.0, wLong = 125 * 3600.0,
      latInc = 3600.0, longInc = 3600.0, latShift = lat, lonShift = lon)))
  }

  private def nodeLat(i: Double, j: Double): Double =
    (1024.0 + 8.0 * i + 4.0 * j + i * j) / 1024.0
  private def nodeLon(i: Double, j: Double): Double =
    (2048.0 + 4.0 * i + 8.0 * j + i * j) / 1024.0

  test("binary roundtrip is lossless in both byte orders") {
    val g = bilinearGrid
    for (order <- Seq(ByteOrder.BIG_ENDIAN, ByteOrder.LITTLE_ENDIAN)) {
      val back = NTv2.read(NTv2.write(g, order))
      back.subs.size shouldBe 1
      val s = back.subs.head
      s.name shouldBe "CONUS"
      s.sLat shouldBe g.subs.head.sLat
      s.wLong shouldBe g.subs.head.wLong
      s.nRows shouldBe 25
      s.nCols shouldBe 59
      s.latShift should contain theSameElementsInOrderAs g.subs.head.latShift
      s.lonShift should contain theSameElementsInOrderAs g.subs.head.lonShift
    }
  }

  test("bilinear interpolation reproduces the analytic surface at nodes and interior points") {
    val g = bilinearGrid
    val s = g.subs.head
    // exact nodes: i = row from south, j = col from EAST (positive-west axis)
    for (i <- Seq(0, 7, 24); j <- Seq(0, 13, 58)) {
      val lonWestSec = s.eLong + j * s.longInc
      val latSec = s.sLat + i * s.latInc
      val (dLat, dLon) = s.interpolate(lonWestSec, latSec)
      dLat shouldBe nodeLat(i, j) +- 1e-12
      dLon shouldBe nodeLon(i, j) +- 1e-12
    }
    // interior points: bilinear in fractional indices
    for ((fi, fj) <- Seq((0.5, 0.5), (3.25, 10.75), (23.9, 57.1))) {
      val lonWestSec = s.eLong + fj * s.longInc
      val latSec = s.sLat + fi * s.latInc
      val (dLat, dLon) = s.interpolate(lonWestSec, latSec)
      dLat shouldBe nodeLat(fi, fj) +- 1e-9
      dLon shouldBe nodeLon(fi, fj) +- 1e-9
    }
  }

  test("forward applies +lat, −lon(east) for positive-west stored shifts; inverse closes") {
    val g = bilinearGrid
    // node i=10 (lat 35°N), j=20 (lon west 87°W → east −87°)
    val (lonE, latN) = (-87.0, 35.0)
    val (fLon, fLat) = g.forward(lonE, latN)
    fLat shouldBe latN + nodeLat(10, 20) / 3600.0 +- 1e-12
    fLon shouldBe lonE - nodeLon(10, 20) / 3600.0 +- 1e-12
    val (bLon, bLat) = g.inverse(fLon, fLat)
    bLon shouldBe lonE +- 1e-10
    bLat shouldBe latN +- 1e-10
  }

  test("points outside coverage pass through unshifted") {
    val g = bilinearGrid
    g.forward(10.0, 50.0) shouldBe ((10.0, 50.0))
    g.forward(-87.0, 55.0) shouldBe ((-87.0, 55.0))
    g.inverse(10.0, 50.0) shouldBe ((10.0, 50.0))
  }

  test("densest sub-grid wins where a child refines its parent") {
    val coarseSize = 5 * 5
    val coarse = NTv2.SubGrid("PARENT", "NONE",
      sLat = 30 * 3600.0, nLat = 34 * 3600.0,
      eLong = 80 * 3600.0, wLong = 84 * 3600.0,
      latInc = 3600.0, longInc = 3600.0,
      latShift = Array.fill(coarseSize)(1.0f), lonShift = Array.fill(coarseSize)(0.0f))
    val fineSize = 5 * 5
    val fine = NTv2.SubGrid("CHILD", "PARENT",
      sLat = 31 * 3600.0, nLat = 32 * 3600.0,
      eLong = 81 * 3600.0, wLong = 82 * 3600.0,
      latInc = 900.0, longInc = 900.0,
      latShift = Array.fill(fineSize)(2.0f), lonShift = Array.fill(fineSize)(0.0f))
    val g = NTv2.Grid(Vector(coarse, fine))
    // inside the child: child's 2" shift; outside it: parent's 1"
    g.shiftAt(-81.5, 31.5)._2 shouldBe 2.0 / 3600.0 +- 1e-12
    g.shiftAt(-83.5, 33.5)._2 shouldBe 1.0 / 3600.0 +- 1e-12
  }

  test("grid generated from the NAD27 Helmert matches the Helmert chain (sign-convention anchor)") {
    // Build an NTv2 grid whose node shifts are DERIVED from the already
    // oracle-verified 3-parameter NAD27 tie (+towgs84=-8,160,176): at
    // each node hold NAD27 geodetic coordinates, run geodetic→geocentric
    // on Clarke 1866 → Helmert → geodetic on WGS84, and store the
    // differences as positive-north / positive-west arc-seconds. The
    // GridShifted transform through that grid must then agree with the
    // DatumShifted (Helmert) transform to bilinear-interpolation error —
    // a mismatch in EITHER the west-positive sign or the add/subtract
    // direction would show up as a ~2× or sign-flipped disagreement.
    val clrk66 = Projections.Ellipsoid.ByProj4Id("CLRK66")
    val h = Projections.Helmert(-8, 160, 176, 0, 0, 0, 0)
    val (rows, cols) = (9, 13) // lat 32..40°N, lon 100..88°W, 1° cells
    val (s0, e0) = (32 * 3600.0, 88 * 3600.0)
    val lat = new Array[Float](rows * cols)
    val lon = new Array[Float](rows * cols)
    for (i <- 0 until rows; j <- 0 until cols) {
      val latDeg = 32.0 + i
      val lonDeg = -(88.0 + j)
      val (gx, gy, gz) = Projections.geodToGeoc(clrk66, lonDeg, latDeg)
      val (wx, wy, wz) = h.toWgs(gx, gy, gz)
      val (lonW, latW) = Projections.geocToGeod(Projections.Ellipsoid.Wgs84, wx, wy, wz)
      lat(i * cols + j) = ((latW - latDeg) * 3600.0).toFloat
      lon(i * cols + j) = (-(lonW - lonDeg) * 3600.0).toFloat // positive west
    }
    val grid = NTv2.Grid(Vector(NTv2.SubGrid("NAD27", "NONE",
      sLat = s0, nLat = s0 + (rows - 1) * 3600.0,
      eLong = e0, wLong = e0 + (cols - 1) * 3600.0,
      latInc = 3600.0, longInc = 3600.0, latShift = lat, lonShift = lon)))
    val viaGrid = Projections.GridShifted(Projections.LonLat, grid, "grid")
    val viaHelmert = Projections.DatumShifted(Projections.LonLat, clrk66, h, "helmert")
    // interior probe points (not nodes): toGeo maps NAD27-ish degrees to
    // WGS84 via each route; agreement bound = float32 node rounding +
    // bilinear curvature over 1° cells of a smooth ~5" field (≪ 1e-5°)
    for ((lo, la) <- Seq((-93.37, 35.21), (-89.5, 38.862), (-99.01, 33.499))) {
      val (gLon, gLat) = viaGrid.toGeo(lo, la)
      val (hLon, hLat) = viaHelmert.toGeo(lo, la)
      gLon shouldBe hLon +- 1e-5
      gLat shouldBe hLat +- 1e-5
      // and the inverse direction (WGS84 → NAD27) closes the same way
      val (giLon, giLat) = viaGrid.fromGeo(hLon, hLat)
      giLon shouldBe lo +- 1e-5
      giLat shouldBe la +- 1e-5
    }
  }

  test("proj4 +nadgrids parses to a GridShifted CRS and guards compose") {
    val dir = java.nio.file.Path.of(scratch("ntv2spec"))
    val path = dir.resolve("test.gsb")
    java.nio.file.Files.write(path, NTv2.write(bilinearGrid))
    val crs = Projections.parseCrs(s"+proj=longlat +ellps=clrk66 +nadgrids=$path")
    crs shouldBe a[Projections.GridShifted]
    crs.name should include("+nadgrids=")
    // projected base: the grid shift feeds the Clarke 1866 LCC
    val lcc = Projections.parseCrs(
      s"+proj=lcc +lat_1=33 +lat_2=45 +lat_0=23 +lon_0=-96 +ellps=clrk66 +nadgrids=$path")
    lcc shouldBe a[Projections.GridShifted]
    val (x, y) = lcc.fromGeo(-96.0, 39.0)
    val (bl, bp) = lcc.toGeo(x, y)
    bl shouldBe -96.0 +- 1e-9
    bp shouldBe 39.0 +- 1e-9
    // optional '@' grids that are unreadable are skipped; all-optional
    // and unresolvable is an error
    val both = Projections.parseCrs(
      s"+proj=longlat +ellps=clrk66 +nadgrids=@/nonexistent.gsb,$path")
    both shouldBe a[Projections.GridShifted]
    intercept[IllegalArgumentException] {
      Projections.parseCrs("+proj=longlat +ellps=clrk66 +nadgrids=@/nonexistent.gsb")
    }
    // competing datum ties are rejected; a bare missing file names the fix
    intercept[IllegalArgumentException] {
      Projections.parseCrs(s"+proj=longlat +ellps=clrk66 +towgs84=1,2,3 +nadgrids=$path")
    }
    val missing = intercept[IllegalArgumentException] {
      Projections.parseCrs("+proj=longlat +ellps=clrk66 +nadgrids=/nonexistent.gsb")
    }
    missing.getMessage should include("--files")
    // '@null' keeps its identity-tie meaning
    Projections.parseCrs("+proj=sinu +lon_0=0 +R=6371007.181 +nadgrids=@null")
      .name should include("+R=")
  }

  test("malformed files fail loudly") {
    intercept[IllegalArgumentException] { NTv2.read(new Array[Byte](32)) }
    val good = NTv2.write(bilinearGrid)
    intercept[IllegalArgumentException] { NTv2.read(good.take(good.length / 2)) }
    val badType = good.clone()
    // GS_TYPE record value at offset 48+8: overwrite with RADIANS
    System.arraycopy("RADIANS ".getBytes("US-ASCII"), 0, badType, 56, 8)
    intercept[IllegalArgumentException] { NTv2.read(badType) }
  }
}
