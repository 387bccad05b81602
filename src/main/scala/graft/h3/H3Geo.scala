package graft.h3

import java.lang.Math._

/**
 * Pure-Scala port of the H3 grid *geometry* layer: icosahedral gnomonic
 * projection, FaceIJK coordinates, and the cell <-> coordinate conversions
 * the reference obtains from libh3 via FFI
 * (/root/reference/h3ron/src/cell.rs:70-78 `from_coordinate`,
 * :451-459 `to_coordinate`, :440-449 `to_polygon`).
 *
 * Design: a small memorized kernel of public H3-spec constants (icosahedron
 * face centers, face axis azimuths, base-cell home positions) plus
 * everything else *derived* at class-init from that kernel by exact integer
 * hex-grid arithmetic and spherical trig. The derived tables are
 * cross-validated by the `H3GeoSpec` invariants (roundtrips, neighbor
 * reciprocity, ring sizes, 4-pi total area).
 */
object H3Geo {

  // ---------------------------------------------------------------------
  // primitive types
  // ---------------------------------------------------------------------

  /** Spherical coordinates in radians. */
  final case class LatLng(lat: Double, lng: Double)

  /** Mutable hex-grid IJK+ coordinates (all-positive convention). */
  final class IJK(var i: Int, var j: Int, var k: Int) {
    def copy(): IJK = new IJK(i, j, k)
    def set(o: IJK): Unit = { i = o.i; j = o.j; k = o.k }
    def set(a: Int, b: Int, c: Int): Unit = { i = a; j = b; k = c }
    override def toString = s"($i,$j,$k)"
    override def equals(o: Any): Boolean = o match {
      case x: IJK => x.i == i && x.j == j && x.k == k
      case _ => false
    }
    override def hashCode: Int = (i * 31 + j) * 31 + k
  }

  /** Face number + IJK coordinates on that face's hex grid. */
  final class FaceIJK(var face: Int, val coord: IJK) {
    def copy(): FaceIJK = new FaceIJK(face, coord.copy())
  }

  // ---------------------------------------------------------------------
  // constants (public H3 spec)
  // ---------------------------------------------------------------------

  final val NumIcosaFaces = 20
  final val MaxRes = 15
  final val Epsilon = 1e-16
  /** square root of 7: aperture-7 per-resolution scale factor */
  final val Sqrt7 = 2.6457513110645905905016157536392604257102
  /** sin(60 deg) */
  final val Sqrt3_2 = 0.8660254037844386467637231707529361834714
  /** rotation of the Class III grid vs Class II: asin(sqrt(3/28)) */
  final val Ap7RotRads = 0.333473172251832115336090755351601070065900389
  /** scaled unit distance of a res-0 hexagon in gnomonic space */
  final val Res0UGnomonic = 0.38196601125010500003
  /** mean Earth radius used by the H3 spec, km */
  final val EarthRadiusKm = 6371.007180918475
  /** max coordinate value of a base-cell ijk on a face */
  final val MaxFaceCoord = 2
  final val InvalidBaseCell = 127
  final val InvalidDigit = 7

  // overage results
  final val NoOverage = 0
  final val FaceEdge = 1
  final val NewFace = 2

  /** memorized hints for the icosahedron face centers, (lat, lng) radians —
    * H3 spec orientation. Only face 0 is used as the exact seed; the rest
    * are rebuilt by exact reflection geometry in [[derivedIcosa]] and these
    * serve as assignment hints + sanity anchors. */
  private[h3] val faceCenterGeoRaw: Array[LatLng] = Array(
    LatLng(0.803582649718989942, 1.248397419617396099), // face 0
    LatLng(1.307747883455638156, 2.536945009877921159), // face 1
    LatLng(1.054751253523952054, -1.347517358900396623), // face 2
    LatLng(0.600191595538186799, -0.450603909469755746), // face 3
    LatLng(0.491715428198773866, 0.401988202911306943), // face 4
    LatLng(0.172745327415618701, 1.678146885280433686), // face 5
    LatLng(0.090273730791203930, 2.944410687961829825), // face 6
    LatLng(0.104667484337904449, -1.065757555206008045), // face 7
    LatLng(0.185173806693031944, -0.270205151075409759), // face 8
    LatLng(0.200441175405075491, 0.855289258354356929), // face 9
    LatLng(-0.200441175405075491, -2.286303403034337029), // face 10
    LatLng(-0.185173806693031944, 2.871387502514361865), // face 11
    LatLng(-0.104667484337904449, 2.075835098383785043), // face 12
    LatLng(-0.090273730791203930, -0.197181965627987043), // face 13
    LatLng(-0.172745327415618701, -1.463445768309359553), // face 14
    LatLng(-0.491715428198773866, -2.739604450678486295), // face 15
    LatLng(-0.600191595538186799, 2.690988744120037492), // face 16
    LatLng(-1.054751253523952054, 1.794075294689396615), // face 17
    LatLng(-1.307747883455638156, -0.604647643711872080), // face 18
    LatLng(-0.803582649718989942, -1.893195233972397139) // face 19
  )

  /** azimuth (radians, H3 azimuth convention) from each face center to the
    * face's class-II i-axis; j and k axes are this minus 2pi/3 and 4pi/3.
    * Snapped at init to the exact vertex azimuths of the icosahedron derived
    * from [[faceCenterGeo]] (see [[snappedFaceAxisAz]]). */
  private[h3] val faceAxesAz0Raw: Array[Double] = Array(
    5.619958268523939882, // face 0
    5.760339081714187279, // face 1
    0.780213654393430055, // face 2
    0.430469363979999913, // face 3
    6.130269123335111400, // face 4
    2.692877706530642877, // face 5
    2.982963003477243874, // face 6
    3.532912002790141181, // face 7
    3.494305004259568154, // face 8
    3.003214169499538391, // face 9
    5.930472956509811562, // face 10
    0.138378484090254847, // face 11
    0.448714947059150361, // face 12
    0.158629650112549365, // face 13
    5.891865957979238535, // face 14
    2.711123289609793325, // face 15
    3.294508837434268316, // face 16
    3.804819692245439833, // face 17
    3.664438879055192436, // face 18
    2.361378999196363184 // face 19
  )

  /** base cell -> (home face, home i, home j, home k, isPentagon,
    * cwOffsetFace1, cwOffsetFace2). Public H3 spec `baseCellData`. */
  val baseCellData: Array[Array[Int]] = Array(
    Array(1, 1, 0, 0, 0, -1, -1), // bc 0
    Array(2, 1, 1, 0, 0, -1, -1), // bc 1
    Array(1, 0, 0, 0, 0, -1, -1), // bc 2
    Array(2, 1, 0, 0, 0, -1, -1), // bc 3
    Array(0, 2, 0, 0, 1, -1, -1), // bc 4 (pentagon)
    Array(1, 1, 1, 0, 0, -1, -1), // bc 5
    Array(1, 0, 0, 1, 0, -1, -1), // bc 6
    Array(2, 0, 0, 0, 0, -1, -1), // bc 7
    Array(0, 1, 0, 0, 0, -1, -1), // bc 8
    Array(2, 0, 1, 0, 0, -1, -1), // bc 9
    Array(1, 0, 1, 0, 0, -1, -1), // bc 10
    Array(1, 0, 1, 1, 0, -1, -1), // bc 11
    Array(3, 1, 0, 0, 0, -1, -1), // bc 12
    Array(3, 1, 1, 0, 0, -1, -1), // bc 13
    Array(11, 2, 0, 0, 1, 2, 6), // bc 14 (pentagon)
    Array(4, 1, 0, 0, 0, -1, -1), // bc 15
    Array(0, 0, 0, 0, 0, -1, -1), // bc 16
    Array(6, 0, 1, 0, 0, -1, -1), // bc 17
    Array(0, 0, 0, 1, 0, -1, -1), // bc 18
    Array(2, 0, 1, 1, 0, -1, -1), // bc 19
    Array(7, 0, 0, 1, 0, -1, -1), // bc 20
    Array(2, 0, 0, 1, 0, -1, -1), // bc 21
    Array(0, 1, 1, 0, 0, -1, -1), // bc 22
    Array(6, 0, 0, 1, 0, -1, -1), // bc 23
    Array(10, 2, 0, 0, 1, 1, 5), // bc 24 (pentagon)
    Array(6, 0, 0, 0, 0, -1, -1), // bc 25
    Array(3, 0, 0, 0, 0, -1, -1), // bc 26
    Array(11, 1, 0, 0, 0, -1, -1), // bc 27
    Array(4, 1, 1, 0, 0, -1, -1), // bc 28
    Array(3, 0, 1, 0, 0, -1, -1), // bc 29
    Array(0, 0, 1, 1, 0, -1, -1), // bc 30
    Array(4, 0, 0, 0, 0, -1, -1), // bc 31
    Array(5, 0, 1, 0, 0, -1, -1), // bc 32
    Array(0, 0, 1, 0, 0, -1, -1), // bc 33
    Array(7, 0, 1, 0, 0, -1, -1), // bc 34
    Array(11, 1, 1, 0, 0, -1, -1), // bc 35
    Array(7, 0, 0, 0, 0, -1, -1), // bc 36
    Array(10, 1, 0, 0, 0, -1, -1), // bc 37
    Array(12, 2, 0, 0, 1, 3, 7), // bc 38 (pentagon)
    Array(6, 1, 0, 1, 0, -1, -1), // bc 39
    Array(7, 1, 0, 1, 0, -1, -1), // bc 40
    Array(4, 0, 0, 1, 0, -1, -1), // bc 41
    Array(3, 0, 0, 1, 0, -1, -1), // bc 42
    Array(3, 0, 1, 1, 0, -1, -1), // bc 43
    Array(4, 0, 1, 0, 0, -1, -1), // bc 44
    Array(6, 1, 0, 0, 0, -1, -1), // bc 45
    Array(11, 0, 0, 0, 0, -1, -1), // bc 46
    Array(8, 0, 0, 1, 0, -1, -1), // bc 47
    Array(5, 0, 0, 1, 0, -1, -1), // bc 48
    Array(14, 2, 0, 0, 1, 0, 9), // bc 49 (pentagon)
    Array(5, 0, 0, 0, 0, -1, -1), // bc 50
    Array(12, 1, 0, 0, 0, -1, -1), // bc 51
    Array(10, 1, 1, 0, 0, -1, -1), // bc 52
    Array(4, 0, 1, 1, 0, -1, -1), // bc 53
    Array(12, 1, 1, 0, 0, -1, -1), // bc 54
    Array(7, 1, 0, 0, 0, -1, -1), // bc 55
    Array(11, 0, 1, 0, 0, -1, -1), // bc 56
    Array(10, 0, 0, 0, 0, -1, -1), // bc 57
    Array(13, 2, 0, 0, 1, 4, 8), // bc 58 (pentagon)
    Array(10, 0, 0, 1, 0, -1, -1), // bc 59
    Array(11, 0, 0, 1, 0, -1, -1), // bc 60
    Array(9, 0, 1, 0, 0, -1, -1), // bc 61
    Array(8, 0, 1, 0, 0, -1, -1), // bc 62
    Array(6, 2, 0, 0, 1, 11, 15), // bc 63 (pentagon)
    Array(8, 0, 0, 0, 0, -1, -1), // bc 64
    Array(9, 0, 0, 1, 0, -1, -1), // bc 65
    Array(14, 1, 1, 0, 0, -1, -1), // bc 66
    Array(5, 1, 0, 1, 0, -1, -1), // bc 67
    Array(16, 0, 1, 1, 0, -1, -1), // bc 68
    Array(8, 1, 0, 1, 0, -1, -1), // bc 69
    Array(5, 1, 0, 0, 0, -1, -1), // bc 70
    Array(12, 0, 0, 0, 0, -1, -1), // bc 71
    Array(7, 2, 0, 0, 1, 12, 16), // bc 72 (pentagon)
    Array(12, 0, 1, 0, 0, -1, -1), // bc 73
    Array(10, 0, 1, 0, 0, -1, -1), // bc 74
    Array(9, 0, 0, 0, 0, -1, -1), // bc 75
    Array(13, 1, 0, 0, 0, -1, -1), // bc 76
    Array(16, 0, 0, 1, 0, -1, -1), // bc 77
    Array(15, 0, 1, 1, 0, -1, -1), // bc 78
    Array(15, 0, 1, 0, 0, -1, -1), // bc 79
    Array(16, 0, 1, 0, 0, -1, -1), // bc 80
    Array(14, 1, 0, 0, 0, -1, -1), // bc 81
    Array(13, 1, 1, 0, 0, -1, -1), // bc 82
    Array(5, 2, 0, 0, 1, 10, 19), // bc 83 (pentagon)
    Array(8, 1, 0, 0, 0, -1, -1), // bc 84
    Array(14, 0, 0, 0, 0, -1, -1), // bc 85
    Array(9, 1, 0, 1, 0, -1, -1), // bc 86
    Array(14, 0, 0, 1, 0, -1, -1), // bc 87
    Array(17, 0, 0, 1, 0, -1, -1), // bc 88
    Array(12, 0, 0, 1, 0, -1, -1), // bc 89
    Array(16, 0, 0, 0, 0, -1, -1), // bc 90
    Array(17, 0, 1, 1, 0, -1, -1), // bc 91
    Array(15, 0, 0, 1, 0, -1, -1), // bc 92
    Array(16, 1, 0, 1, 0, -1, -1), // bc 93
    Array(9, 1, 0, 0, 0, -1, -1), // bc 94
    Array(15, 0, 0, 0, 0, -1, -1), // bc 95
    Array(13, 0, 0, 0, 0, -1, -1), // bc 96
    Array(8, 2, 0, 0, 1, 13, 17), // bc 97 (pentagon)
    Array(13, 0, 1, 0, 0, -1, -1), // bc 98
    Array(17, 1, 0, 1, 0, -1, -1), // bc 99
    Array(19, 0, 1, 0, 0, -1, -1), // bc 100
    Array(14, 0, 1, 0, 0, -1, -1), // bc 101
    Array(19, 0, 1, 1, 0, -1, -1), // bc 102
    Array(17, 0, 1, 0, 0, -1, -1), // bc 103
    Array(13, 0, 0, 1, 0, -1, -1), // bc 104
    Array(17, 0, 0, 0, 0, -1, -1), // bc 105
    Array(16, 1, 0, 0, 0, -1, -1), // bc 106
    Array(9, 2, 0, 0, 1, 14, 18), // bc 107 (pentagon)
    Array(15, 1, 0, 1, 0, -1, -1), // bc 108
    Array(15, 1, 0, 0, 0, -1, -1), // bc 109
    Array(18, 0, 1, 1, 0, -1, -1), // bc 110
    Array(18, 0, 0, 1, 0, -1, -1), // bc 111
    Array(19, 0, 0, 1, 0, -1, -1), // bc 112
    Array(17, 1, 0, 0, 0, -1, -1), // bc 113
    Array(19, 0, 0, 0, 0, -1, -1), // bc 114
    Array(18, 0, 1, 0, 0, -1, -1), // bc 115
    Array(18, 1, 0, 1, 0, -1, -1), // bc 116
    Array(19, 2, 0, 0, 1, -1, -1), // bc 117 (pentagon)
    Array(19, 1, 0, 0, 0, -1, -1), // bc 118
    Array(18, 0, 0, 0, 0, -1, -1), // bc 119
    Array(19, 1, 0, 1, 0, -1, -1), // bc 120
    Array(18, 1, 0, 0, 0, -1, -1) // bc 121
  )

  /** face -> [center, IJ, KI, JK] neighbor orientation: (face, translate
    * i/j/k in res-0 units, ccw 60-degree rotations). Validated numerically
    * at init by [[validateFaceNeighbors]]. */
  val faceNeighbors: Array[Array[Array[Int]]] = {
    def e(f: Int, ti: Int, tj: Int, tk: Int, r: Int) = Array(f, ti, tj, tk, r)
    Array(
      Array(e(0, 0, 0, 0, 0), e(4, 2, 0, 2, 1), e(1, 2, 2, 0, 5), e(5, 0, 2, 2, 3)), // face 0
      Array(e(1, 0, 0, 0, 0), e(0, 2, 0, 2, 1), e(2, 2, 2, 0, 5), e(6, 0, 2, 2, 3)), // face 1
      Array(e(2, 0, 0, 0, 0), e(1, 2, 0, 2, 1), e(3, 2, 2, 0, 5), e(7, 0, 2, 2, 3)), // face 2
      Array(e(3, 0, 0, 0, 0), e(2, 2, 0, 2, 1), e(4, 2, 2, 0, 5), e(8, 0, 2, 2, 3)), // face 3
      Array(e(4, 0, 0, 0, 0), e(3, 2, 0, 2, 1), e(0, 2, 2, 0, 5), e(9, 0, 2, 2, 3)), // face 4
      Array(e(5, 0, 0, 0, 0), e(10, 2, 2, 0, 3), e(14, 2, 0, 2, 3), e(0, 0, 2, 2, 3)), // face 5
      Array(e(6, 0, 0, 0, 0), e(11, 2, 2, 0, 3), e(10, 2, 0, 2, 3), e(1, 0, 2, 2, 3)), // face 6
      Array(e(7, 0, 0, 0, 0), e(12, 2, 2, 0, 3), e(11, 2, 0, 2, 3), e(2, 0, 2, 2, 3)), // face 7
      Array(e(8, 0, 0, 0, 0), e(13, 2, 2, 0, 3), e(12, 2, 0, 2, 3), e(3, 0, 2, 2, 3)), // face 8
      Array(e(9, 0, 0, 0, 0), e(14, 2, 2, 0, 3), e(13, 2, 0, 2, 3), e(4, 0, 2, 2, 3)), // face 9
      Array(e(10, 0, 0, 0, 0), e(5, 2, 2, 0, 3), e(6, 2, 0, 2, 3), e(15, 0, 2, 2, 3)), // face 10
      Array(e(11, 0, 0, 0, 0), e(6, 2, 2, 0, 3), e(7, 2, 0, 2, 3), e(16, 0, 2, 2, 3)), // face 11
      Array(e(12, 0, 0, 0, 0), e(7, 2, 2, 0, 3), e(8, 2, 0, 2, 3), e(17, 0, 2, 2, 3)), // face 12
      Array(e(13, 0, 0, 0, 0), e(8, 2, 2, 0, 3), e(9, 2, 0, 2, 3), e(18, 0, 2, 2, 3)), // face 13
      Array(e(14, 0, 0, 0, 0), e(9, 2, 2, 0, 3), e(5, 2, 0, 2, 3), e(19, 0, 2, 2, 3)), // face 14
      Array(e(15, 0, 0, 0, 0), e(16, 2, 0, 2, 1), e(19, 2, 2, 0, 5), e(10, 0, 2, 2, 3)), // face 15
      Array(e(16, 0, 0, 0, 0), e(17, 2, 0, 2, 1), e(15, 2, 2, 0, 5), e(11, 0, 2, 2, 3)), // face 16
      Array(e(17, 0, 0, 0, 0), e(18, 2, 0, 2, 1), e(16, 2, 2, 0, 5), e(12, 0, 2, 2, 3)), // face 17
      Array(e(18, 0, 0, 0, 0), e(19, 2, 0, 2, 1), e(17, 2, 2, 0, 5), e(13, 0, 2, 2, 3)), // face 18
      Array(e(19, 0, 0, 0, 0), e(15, 2, 0, 2, 1), e(18, 2, 2, 0, 5), e(14, 0, 2, 2, 3)) // face 19
    )
  }

  // quadrant indexes into faceNeighbors
  final val IJQuad = 1
  final val KIQuad = 2
  final val JKQuad = 3

  // ---------------------------------------------------------------------
  // spherical helpers
  // ---------------------------------------------------------------------

  @inline def posAngle(a: Double): Double = {
    val twoPi = 2.0 * PI
    var r = a
    if (r < 0.0) r += twoPi
    if (r >= twoPi) r -= twoPi
    if (r < 0.0) r = r % twoPi + twoPi
    r
  }

  @inline def constrainLng(lng: Double): Double = {
    var l = lng
    while (l > PI) l -= 2.0 * PI
    while (l < -PI) l += 2.0 * PI
    l
  }

  @inline def constrainLat(lat: Double): Double = {
    var l = lat
    while (l > PI / 2.0) l -= PI
    l
  }

  /** 3-D unit vector of a spherical point. */
  def geoToVec3d(g: LatLng): Array[Double] = {
    val r = cos(g.lat)
    Array(r * cos(g.lng), r * sin(g.lng), sin(g.lat))
  }

  @inline def pointSquareDist(a: Array[Double], b: Array[Double]): Double = {
    val dx = a(0) - b(0); val dy = a(1) - b(1); val dz = a(2) - b(2)
    dx * dx + dy * dy + dz * dz
  }

  /** azimuth from p1 to p2, H3 convention. */
  def geoAzimuthRads(p1: LatLng, p2: LatLng): Double =
    atan2(
      cos(p2.lat) * sin(p2.lng - p1.lng),
      cos(p1.lat) * sin(p2.lat) - sin(p1.lat) * cos(p2.lat) * cos(p2.lng - p1.lng))

  /** great-circle point at (azimuth, distance radians) from p1. */
  def geoAzDistanceRads(p1: LatLng, azimuth: Double, distance: Double): LatLng = {
    if (distance < Epsilon) return p1
    val az = posAngle(azimuth)
    if (az < Epsilon || abs(az - PI) < Epsilon) {
      // due north or south
      val lat0 = if (az < Epsilon) p1.lat + distance else p1.lat - distance
      if (abs(lat0 - PI / 2.0) < Epsilon) LatLng(PI / 2.0, 0.0)
      else if (abs(lat0 + PI / 2.0) < Epsilon) LatLng(-PI / 2.0, 0.0)
      else LatLng(lat0, constrainLng(p1.lng))
    } else {
      var sinlat = sin(p1.lat) * cos(distance) + cos(p1.lat) * sin(distance) * cos(az)
      if (sinlat > 1.0) sinlat = 1.0
      if (sinlat < -1.0) sinlat = -1.0
      val lat = asin(sinlat)
      if (abs(lat - PI / 2.0) < Epsilon) LatLng(PI / 2.0, 0.0)
      else if (abs(lat + PI / 2.0) < Epsilon) LatLng(-PI / 2.0, 0.0)
      else {
        var sinlng = sin(az) * sin(distance) / cos(lat)
        var coslng = (cos(distance) - sin(p1.lat) * sin(lat)) / cos(p1.lat) / cos(lat)
        if (sinlng > 1.0) sinlng = 1.0
        if (sinlng < -1.0) sinlng = -1.0
        if (coslng > 1.0) coslng = 1.0
        if (coslng < -1.0) coslng = -1.0
        LatLng(lat, constrainLng(p1.lng + atan2(sinlng, coslng)))
      }
    }
  }

  /** haversine great-circle distance in radians. */
  def greatCircleDistanceRads(a: LatLng, b: LatLng): Double = {
    val sinLat = sin((b.lat - a.lat) / 2.0)
    val sinLng = sin((b.lng - a.lng) / 2.0)
    val h = sinLat * sinLat + cos(a.lat) * cos(b.lat) * sinLng * sinLng
    2.0 * atan2(sqrt(h), sqrt(1.0 - h))
  }

  def greatCircleDistanceKm(a: LatLng, b: LatLng): Double =
    greatCircleDistanceRads(a, b) * EarthRadiusKm

  // ---------------------------------------------------------------------
  // IJK hex-grid arithmetic
  // ---------------------------------------------------------------------

  /** unit ijk vectors per direction digit 0..6 */
  val unitVecs: Array[Array[Int]] = Array(
    Array(0, 0, 0), Array(0, 0, 1), Array(0, 1, 0), Array(0, 1, 1),
    Array(1, 0, 0), Array(1, 0, 1), Array(1, 1, 0))

  def ijkNormalize(c: IJK): Unit = {
    if (c.i < 0) { c.j -= c.i; c.k -= c.i; c.i = 0 }
    if (c.j < 0) { c.i -= c.j; c.k -= c.j; c.j = 0 }
    if (c.k < 0) { c.i -= c.k; c.j -= c.k; c.k = 0 }
    var min = c.i
    if (c.j < min) min = c.j
    if (c.k < min) min = c.k
    if (min > 0) { c.i -= min; c.j -= min; c.k -= min }
  }

  /** digit 0..6 for a normalized unit ijk; 7 (invalid) otherwise. */
  def unitIjkToDigit(c: IJK): Int = {
    val n = c.copy()
    ijkNormalize(n)
    var d = 0
    while (d <= 6) {
      val u = unitVecs(d)
      if (n.i == u(0) && n.j == u(1) && n.k == u(2)) return d
      d += 1
    }
    InvalidDigit
  }

  def ijkAdd(a: IJK, b: IJK, out: IJK): Unit = { out.i = a.i + b.i; out.j = a.j + b.j; out.k = a.k + b.k }
  def ijkSub(a: IJK, b: IJK, out: IJK): Unit = { out.i = a.i - b.i; out.j = a.j - b.j; out.k = a.k - b.k }
  def ijkScale(c: IJK, f: Int): Unit = { c.i *= f; c.j *= f; c.k *= f }

  /** move ijk one cell in the given direction digit. */
  def ijkNeighbor(c: IJK, digit: Int): Unit = {
    if (digit > 0 && digit <= 6) {
      val u = unitVecs(digit)
      c.i += u(0); c.j += u(1); c.k += u(2)
      ijkNormalize(c)
    }
  }

  def ijkRotate60ccw(c: IJK): Unit = {
    // i -> (1,1,0), j -> (0,1,1), k -> (1,0,1)
    val i = c.i; val j = c.j; val k = c.k
    c.i = i + k; c.j = i + j; c.k = j + k
    ijkNormalize(c)
  }

  def ijkRotate60cw(c: IJK): Unit = {
    // i -> (1,0,1), j -> (1,1,0), k -> (0,1,1)
    val i = c.i; val j = c.j; val k = c.k
    c.i = i + j; c.j = j + k; c.k = i + k
    ijkNormalize(c)
  }

  /** aperture-7 coarsening, counterclockwise (Class II -> up). */
  def upAp7(c: IJK): Unit = {
    val i = c.i - c.k
    val j = c.j - c.k
    c.i = round((3 * i - j) / 7.0).toInt
    c.j = round((i + 2 * j) / 7.0).toInt
    c.k = 0
    ijkNormalize(c)
  }

  /** aperture-7 coarsening, clockwise. */
  def upAp7r(c: IJK): Unit = {
    val i = c.i - c.k
    val j = c.j - c.k
    c.i = round((2 * i + j) / 7.0).toInt
    c.j = round((3 * j - i) / 7.0).toInt
    c.k = 0
    ijkNormalize(c)
  }

  /** aperture-7 refinement, counterclockwise. */
  def downAp7(c: IJK): Unit = {
    // res r unit vectors in res r+1: i->(3,0,1) j->(1,3,0) k->(0,1,3)
    val i = c.i; val j = c.j; val k = c.k
    c.i = 3 * i + j
    c.j = 3 * j + k
    c.k = 3 * k + i
    ijkNormalize(c)
  }

  /** aperture-7 refinement, clockwise. */
  def downAp7r(c: IJK): Unit = {
    // i->(3,1,0) j->(0,3,1) k->(1,0,3)
    val i = c.i; val j = c.j; val k = c.k
    c.i = 3 * i + k
    c.j = 3 * j + i
    c.k = 3 * k + j
    ijkNormalize(c)
  }

  /** aperture-3 refinement, counterclockwise. */
  def downAp3(c: IJK): Unit = {
    // i->(2,0,1) j->(1,2,0) k->(0,1,2)
    val i = c.i; val j = c.j; val k = c.k
    c.i = 2 * i + j
    c.j = 2 * j + k
    c.k = 2 * k + i
    ijkNormalize(c)
  }

  /** aperture-3 refinement, clockwise. */
  def downAp3r(c: IJK): Unit = {
    // i->(2,1,0) j->(0,2,1) k->(1,0,2)
    val i = c.i; val j = c.j; val k = c.k
    c.i = 2 * i + k
    c.j = 2 * j + i
    c.k = 2 * k + j
    ijkNormalize(c)
  }

  /** hex grid ijk -> orthogonal 2-D coordinates. */
  def ijkToHex2d(c: IJK): (Double, Double) = {
    val i = c.i - c.k
    val j = c.j - c.k
    (i - 0.5 * j, j * Sqrt3_2)
  }

  /** exact rounding of 2-D hex coordinates to containing-cell ijk. */
  def hex2dToCoordIJK(x: Double, y: Double, h: IJK): Unit = {
    h.k = 0
    val a1 = abs(x)
    val a2 = abs(y)
    val x2 = a2 / Sqrt3_2
    val x1 = a1 + x2 / 2.0
    val m1 = x1.toInt
    val m2 = x2.toInt
    val r1 = x1 - m1
    val r2 = x2 - m2
    if (r1 < 0.5) {
      if (r1 < 1.0 / 3.0) {
        if (r2 < (1.0 + r1) / 2.0) { h.i = m1; h.j = m2 }
        else { h.i = m1; h.j = m2 + 1 }
      } else {
        if (r2 < (1.0 - r1)) h.j = m2 else h.j = m2 + 1
        if ((1.0 - r1) <= r2 && r2 < (2.0 * r1)) h.i = m1 + 1 else h.i = m1
      }
    } else {
      if (r1 < 2.0 / 3.0) {
        if (r2 < (1.0 - r1)) h.j = m2 else h.j = m2 + 1
        if ((2.0 * r1 - 1.0) < r2 && r2 < (1.0 - r1)) h.i = m1 else h.i = m1 + 1
      } else {
        if (r2 < (r1 / 2.0)) { h.i = m1 + 1; h.j = m2 }
        else { h.i = m1 + 1; h.j = m2 + 1 }
      }
    }
    // fold across the axes if necessary
    if (x < 0.0) {
      if (h.j % 2 == 0) {
        val axisi = h.j / 2
        val diff = h.i - axisi
        h.i = h.i - 2 * diff
      } else {
        val axisi = (h.j + 1) / 2
        val diff = h.i - axisi
        h.i = h.i - (2 * diff + 1)
      }
    }
    if (y < 0.0) {
      h.i = h.i - (2 * h.j + 1) / 2
      h.j = -h.j
    }
    ijkNormalize(h)
  }

  // ---------------------------------------------------------------------
  // derived geometry: face centers (3-D), snapped axis azimuths
  // ---------------------------------------------------------------------

  /**
   * Exact icosahedron rebuild. The regular icosahedron is rigid: from one
   * face's center and the azimuth to its first vertex, every other face is
   * obtained by reflecting across shared-edge planes (exact isometries).
   * Face 0's memorized center+azimuth is the seed; the face adjacency comes
   * from [[faceNeighbors]]; the memorized per-face values only disambiguate
   * which shared vertex is each new face's i-axis (a discrete choice, so a
   * hint accurate to better than +-60 degrees suffices). Center-to-vertex
   * arc of a unit icosahedron: acos(sqrt((5 + 2*sqrt(5)) / 15)).
   */
  private lazy val derivedIcosa: (Array[LatLng], Array[Double]) = {
    val thetaV = acos(sqrt((5.0 + 2.0 * sqrt(5.0)) / 15.0))
    val twoPi3 = 2.0 * PI / 3.0
    def norm3(v: Array[Double]): Array[Double] = {
      val m = sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2))
      Array(v(0) / m, v(1) / m, v(2) / m)
    }
    def cross3(a: Array[Double], b: Array[Double]): Array[Double] =
      Array(a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2), a(0) * b(1) - a(1) * b(0))
    def dot3(a: Array[Double], b: Array[Double]): Double = a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
    def vec3ToGeo(v: Array[Double]): LatLng = LatLng(asin(max(-1.0, min(1.0, v(2)))), atan2(v(1), v(0)))
    def angDiff(x: Double, y: Double): Double = { val d = posAngle(x - y); min(d, 2 * PI - d) }

    val centers3 = new Array[Array[Double]](NumIcosaFaces)
    val verts3 = new Array[Array[Array[Double]]](NumIcosaFaces)
    val seedGeo = faceCenterGeoRaw(0)
    centers3(0) = geoToVec3d(seedGeo)
    verts3(0) = Array.tabulate(3)(m =>
      geoToVec3d(geoAzDistanceRads(seedGeo, posAngle(faceAxesAz0Raw(0) - m * twoPi3), thetaV)))

    val built = Array.fill(NumIcosaFaces)(false)
    built(0) = true
    val queue = scala.collection.mutable.Queue(0)
    while (queue.nonEmpty) {
      val f = queue.dequeue()
      var q = 1
      while (q <= 3) {
        val g = faceNeighbors(f)(q)(0)
        if (!built(g)) {
          // shared-edge vertices by quadrant: IJ->(vi,vj) KI->(vk,vi) JK->(vj,vk)
          val (a, b, other) = q match {
            case IJQuad => (0, 1, 2)
            case KIQuad => (2, 0, 1)
            case _ => (1, 2, 0)
          }
          val vA = verts3(f)(a); val vB = verts3(f)(b); val vO = verts3(f)(other)
          val n = norm3(cross3(vA, vB))
          def reflect(p: Array[Double]): Array[Double] = {
            val d = 2.0 * dot3(p, n)
            Array(p(0) - d * n(0), p(1) - d * n(1), p(2) - d * n(2))
          }
          centers3(g) = norm3(reflect(centers3(f)))
          val cand = Array(vA, vB, norm3(reflect(vO)))
          val cg = vec3ToGeo(centers3(g))
          val azs = cand.map(v => geoAzimuthRads(cg, vec3ToGeo(v)))
          val hint = faceAxesAz0Raw(g)
          val iIdx = azs.indices.minBy(ix => angDiff(azs(ix), hint))
          val rest = azs.indices.filter(_ != iIdx)
          val jIdx = rest.minBy(ix => angDiff(azs(ix), azs(iIdx) - twoPi3))
          val kIdx = rest.filterNot(_ == jIdx).head
          verts3(g) = Array(cand(iIdx), cand(jIdx), cand(kIdx))
          built(g) = true
          queue.enqueue(g)
        }
        q += 1
      }
    }
    val geo = centers3.map(vec3ToGeo)
    val az0 = Array.tabulate(NumIcosaFaces) { f =>
      posAngle(geoAzimuthRads(geo(f), vec3ToGeo(verts3(f)(0))))
    }
    (geo, az0)
  }

  /** exact icosahedron face centers (derived; see [[derivedIcosa]]). */
  lazy val faceCenterGeo: Array[LatLng] = derivedIcosa._1

  lazy val faceCenterPoint: Array[Array[Double]] = faceCenterGeo.map(geoToVec3d)

  /** exact azimuth from each face center to its i-axis vertex (derived). */
  lazy val faceAxesAz0: Array[Double] = derivedIcosa._2

  // ---------------------------------------------------------------------
  // res scaling tables
  // ---------------------------------------------------------------------

  @inline def isResClassIII(res: Int): Boolean = (res & 1) == 1

  /** max ijk coordinate on a face at a Class II res: 2 * 7^(res/2) */
  lazy val maxDimByCIIres: Array[Int] = {
    val a = new Array[Int](MaxRes + 2)
    var r = 0
    while (r <= MaxRes + 1) {
      if (r % 2 == 0) {
        var p = 1L
        (1 to r / 2).foreach(_ => p *= 7)
        val x = 2L * p
        a(r) = if (x > Int.MaxValue) Int.MaxValue else x.toInt
      } else a(r) = -1
      r += 1
    }
    a
  }

  /** unit scale at a Class II res: 7^(res/2) */
  lazy val unitScaleByCIIres: Array[Int] = {
    val a = new Array[Int](MaxRes + 2)
    var r = 0
    while (r <= MaxRes + 1) {
      if (r % 2 == 0) {
        var p = 1L
        (1 to r / 2).foreach(_ => p *= 7)
        a(r) = if (p > Int.MaxValue) Int.MaxValue else p.toInt
      } else a(r) = -1
      r += 1
    }
    a
  }

  // ---------------------------------------------------------------------
  // gnomonic projection: geo <-> face 2-D
  // ---------------------------------------------------------------------

  /** geo -> (face, hex2d x, hex2d y) at the given res. */
  def geoToHex2d(g: LatLng, res: Int): (Int, Double, Double) = {
    val v3d = geoToVec3d(g)
    var face = 0
    var sqd = pointSquareDist(faceCenterPoint(0), v3d)
    var f = 1
    while (f < NumIcosaFaces) {
      val d = pointSquareDist(faceCenterPoint(f), v3d)
      if (d < sqd) { face = f; sqd = d }
      f += 1
    }
    var r = acos(1.0 - sqd / 2.0)
    if (r < Epsilon) return (face, 0.0, 0.0)
    var theta = posAngle(faceAxesAz0(face) - posAngle(geoAzimuthRads(faceCenterGeo(face), g)))
    if (isResClassIII(res)) theta = posAngle(theta - Ap7RotRads)
    r = tan(r) / Res0UGnomonic
    var i = 0
    while (i < res) { r *= Sqrt7; i += 1 }
    (face, r * cos(theta), r * sin(theta))
  }

  /** face 2-D -> geo at the given res (substrate grids are 3x finer, and
    * Class III substrate another sqrt7 finer). */
  def hex2dToGeo(x: Double, y: Double, face: Int, res: Int, substrate: Boolean): LatLng = {
    var r = sqrt(x * x + y * y)
    if (r < Epsilon) return faceCenterGeo(face)
    var theta = atan2(y, x)
    var i = 0
    while (i < res) { r /= Sqrt7; i += 1 }
    if (substrate) {
      r /= 3.0
      if (isResClassIII(res)) r /= Sqrt7
    }
    r *= Res0UGnomonic
    r = atan(r)
    if (!substrate && isResClassIII(res)) theta = posAngle(theta + Ap7RotRads)
    theta = posAngle(faceAxesAz0(face) - theta)
    geoAzDistanceRads(faceCenterGeo(face), theta, r)
  }

  /** geo -> FaceIJK at res. */
  def geoToFaceIjk(g: LatLng, res: Int): FaceIJK = {
    val (face, x, y) = geoToHex2d(g, res)
    val c = new IJK(0, 0, 0)
    hex2dToCoordIJK(x, y, c)
    new FaceIJK(face, c)
  }

  // ---------------------------------------------------------------------
  // derived table: (face, i, j, k) at res 0 -> (base cell, ccw rotations)
  // ---------------------------------------------------------------------

  /** home-face center geo point of a base cell. */
  private def baseCellHomeGeo(bc: Int): LatLng = {
    val d = baseCellData(bc)
    val c = new IJK(d(1), d(2), d(3))
    val (x, y) = ijkToHex2d(c)
    hex2dToGeo(x, y, d(0), 0, substrate = false)
  }

  lazy val baseCellCenterGeo: Array[LatLng] = Array.tabulate(122)(baseCellHomeGeo)

  /** apply the faceNeighbors fold transform for `quad` of `face` to
    * res-0 coords in place; returns (new face, ccwRot60 of the fold). */
  private def applyFold(face: Int, quad: Int, c: IJK): (Int, Int) = {
    val orient = faceNeighbors(face)(quad)
    var i = 0
    while (i < orient(4)) { ijkRotate60ccw(c); i += 1 }
    c.i += orient(1); c.j += orient(2); c.k += orient(3) // unitScale(0) == 1
    ijkNormalize(c)
    (orient(0), orient(4))
  }

  /** derived: faceIjkBaseCells[face][i][j][k] = (baseCell, ccwRot60).
    *
    * Identity: project the lattice position to the sphere and match the
    * nearest base-cell canonical center (margins are large: base cells are
    * ~0.5 rad apart, gnomonic distortion in the overage region is far
    * smaller).
    *
    * Rotation: breadth-first search over exact lattice *fold* transforms
    * (the faceNeighbors isometries) from the position to the base cell's
    * home position, accumulating each fold's ccw rotation count. This is
    * exact integer arithmetic — no angle snapping — and handles the 60
    * degree lattice deficit around icosahedron vertices (pentagons)
    * correctly, where an azimuth-difference heuristic breaks. */
  lazy val faceIjkBaseCells: Array[Array[Array[Array[Array[Int]]]]] =
    H3Tables.faceIjkBaseCells

  /** full derivation + repair (see doc above). NOT used at runtime — the
    * serialized result lives in [[H3Tables]] (generated by H3TableGen), so
    * executor JVMs skip the BFS + pentagon-sample repair at first use;
    * H3TablesSpec re-derives and diffs against the constants. */
  private[h3] def deriveFaceIjkBaseCells(): Array[Array[Array[Array[Array[Int]]]]] = {
    val table = Array.fill(NumIcosaFaces, 3, 3, 3)(Array(InvalidBaseCell, 0))
    val centers3d = baseCellCenterGeo.map(geoToVec3d)
    val maxDim = MaxFaceCoord

    for (face <- 0 until NumIcosaFaces; i <- 0 to 2; j <- 0 to 2; k <- 0 to 2) {
      val pos = new IJK(i, j, k)
      val (x, y) = ijkToHex2d(pos)
      val geo = hex2dToGeo(x, y, face, 0, substrate = false)
      val p3d = geoToVec3d(geo)
      var best = 0
      var bestD = pointSquareDist(centers3d(0), p3d)
      var bc = 1
      while (bc < 122) {
        val d = pointSquareDist(centers3d(bc), p3d)
        if (d < bestD) { bestD = d; best = bc }
        bc += 1
      }
      val home = baseCellData(best)
      val homeFace = home(0)
      val homeI = home(1); val homeJ = home(2); val homeK = home(3)

      // BFS over folds to the home position
      var rot = -1
      if (face == homeFace && i == homeI && j == homeJ && k == homeK) rot = 0
      else {
        val seen = scala.collection.mutable.Set.empty[(Int, Int, Int, Int)]
        val queue = scala.collection.mutable.Queue((face, pos.copy(), 0))
        seen += ((face, pos.i, pos.j, pos.k))
        while (rot < 0 && queue.nonEmpty) {
          val (f0, c0, r0) = queue.dequeue()
          // candidate folds: forced when coords overflow the face; when on
          // a face edge (sum == maxDim), any quad whose edge contains the
          // position is applicable
          val quads: Seq[Int] =
            if (c0.i + c0.j + c0.k > maxDim) {
              Seq(if (c0.k > 0) { if (c0.j > 0) JKQuad else KIQuad } else IJQuad)
            } else if (c0.i + c0.j + c0.k == maxDim) {
              var qs = List.empty[Int]
              if (c0.k == 0) qs ::= IJQuad
              if (c0.j == 0) qs ::= KIQuad
              if (c0.i == 0) qs ::= JKQuad
              qs
            } else Seq.empty
          for (q <- quads) {
            val c1 = c0.copy()
            val (f1, foldRot) = applyFold(f0, q, c1)
            val r1 = (r0 + foldRot) % 6
            if (f1 == homeFace && c1.i == homeI && c1.j == homeJ && c1.k == homeK && rot < 0)
              rot = r1
            else if (c1.i >= 0 && c1.i <= 6 && c1.j >= 0 && c1.j <= 6 && c1.k >= 0 && c1.k <= 6 &&
                !seen.contains((f1, c1.i, c1.j, c1.k))) {
              seen += ((f1, c1.i, c1.j, c1.k))
              queue.enqueue((f1, c1, r1))
            }
          }
        }
        require(rot >= 0,
          s"faceIjkBaseCells: no fold path from face $face ($i,$j,$k) to bc $best home")
      }
      table(face)(i)(j)(k) = Array(best, rot)
    }

    // Repair pass for the 60-degree lattice deficit around pentagon
    // vertices: fold paths that circle a 5-face vertex clockwise vs
    // counterclockwise disagree by one rotation, so BFS shortest-path rots
    // can be off by +-1 for entries near pentagons. cellToLatLng never uses
    // this table, so roundtrips through it are independent ground truth:
    // for every pentagon-subtree sample cell, locate the table entry its
    // reverse conversion consults and solve that entry's rot against all
    // of its samples.
    {
      val samplesByEntry =
        scala.collection.mutable.Map.empty[(Int, Int, Int, Int), scala.collection.mutable.ArrayBuffer[(Long, FaceIJK, Int)]]
      def upChainEntry(fijk: FaceIJK, res: Int): (Int, Int, Int, Int) = {
        val c = fijk.coord.copy()
        var r = res - 1
        while (r >= 0) {
          if (isResClassIII(r + 1)) upAp7(c) else upAp7r(c)
          r -= 1
        }
        (fijk.face, c.i, c.j, c.k)
      }
      // enumerate every cell at res 1..3 under each pentagon, plus the
      // deeper center-child spines with one off-center digit
      val pents = H3Core.pentagonBaseCells.map { bc =>
        (1L << 59) | (bc.toLong << 45) | H3Core.lowerDigitsOnes(0)
      }
      val cells = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (p <- pents) {
        cells ++= H3Core.cellToChildren(p, 1)
        cells ++= H3Core.cellToChildren(p, 2)
        cells ++= H3Core.cellToChildren(p, 3)
        for (r <- 4 to 8; d <- 2 to 6) {
          var h = H3Core.cellToCenterChild(p, r - 1)
          h = H3Core.withDigit(H3Core.withRes(h, r), r, d)
          cells += h
        }
      }
      for (c <- cells) {
        val res = H3Core.getResolution(c)
        val g = {
          val fijk = h3ToFaceIjk(c)
          val (x, y) = ijkToHex2d(fijk.coord)
          hex2dToGeo(x, y, fijk.face, res, substrate = false)
        }
        val fijk = geoToFaceIjk(g, res)
        val entry = upChainEntry(fijk, res)
        samplesByEntry.getOrElseUpdate(entry, scala.collection.mutable.ArrayBuffer.empty) +=
          ((c, fijk, res))
      }
      for (((face, i, j, k), samples) <- samplesByEntry) {
        val e = table(face)(i)(j)(k)
        def failures(rot: Int): Int = {
          e(1) = rot
          samples.count { case (c, fijk, res) => faceIjkToH3Impl(fijk.copy(), res, table) != c }
        }
        val orig = e(1)
        if (failures(orig) > 0) {
          val best = (0 until 6).minBy(failures)
          val bad = failures(best)
          require(bad == 0,
            s"faceIjkBaseCells repair: entry ($face,$i,$j,$k) unfixable, $bad residual failures")
          e(1) = best
        } else e(1) = orig
      }
    }
    table
  }

  def faceIjkToBaseCell(fijk: FaceIJK): Int = {
    val c = fijk.coord
    if (c.i < 0 || c.i > 2 || c.j < 0 || c.j > 2 || c.k < 0 || c.k > 2) InvalidBaseCell
    else faceIjkBaseCells(fijk.face)(c.i)(c.j)(c.k)(0)
  }

  def faceIjkToBaseCellCCWrot60(fijk: FaceIJK): Int = {
    val c = fijk.coord
    if (c.i < 0 || c.i > 2 || c.j < 0 || c.j > 2 || c.k < 0 || c.k > 2) -1
    else faceIjkBaseCells(fijk.face)(c.i)(c.j)(c.k)(1)
  }

  @inline def isBaseCellPentagon(bc: Int): Boolean = H3Core.isPentagonBaseCell(bc)

  def baseCellIsCwOffset(bc: Int, face: Int): Boolean = {
    val d = baseCellData(bc)
    d(5) == face || d(6) == face
  }

  // ---------------------------------------------------------------------
  // overage adjustment (cell crossed onto an adjacent face)
  // ---------------------------------------------------------------------

  /** fold FaceIJK coordinates that overflowed the face back onto the proper
    * adjacent face. `res` must be Class II (even) here; substrate grids are
    * 3x finer. Returns NoOverage / FaceEdge / NewFace. */
  def adjustOverageClassII(fijk: FaceIJK, res: Int, pentLeading4: Boolean, substrate: Boolean): Int = {
    var overage = NoOverage
    val ijk = fijk.coord
    var maxDim = maxDimByCIIres(res)
    if (substrate) maxDim *= 3
    if (substrate && ijk.i + ijk.j + ijk.k == maxDim) overage = FaceEdge
    else if (ijk.i + ijk.j + ijk.k > maxDim) {
      overage = NewFace
      val orient: Array[Int] =
        if (ijk.k > 0) {
          if (ijk.j > 0) faceNeighbors(fijk.face)(JKQuad)
          else {
            // adjust for the pentagonal missing sequence
            if (pentLeading4) {
              // translate origin to the pentagon center, rotate to adjust
              // for the missing sequence, translate back
              val origin = new IJK(maxDim, 0, 0)
              val tmp = new IJK(0, 0, 0)
              ijkSub(ijk, origin, tmp)
              ijkRotate60cw(tmp)
              ijkAdd(tmp, origin, ijk)
            }
            faceNeighbors(fijk.face)(KIQuad)
          }
        } else faceNeighbors(fijk.face)(IJQuad)
      fijk.face = orient(0)
      var i = 0
      while (i < orient(4)) { ijkRotate60ccw(ijk); i += 1 }
      val trans = new IJK(orient(1), orient(2), orient(3))
      var unitScale = unitScaleByCIIres(res)
      if (substrate) unitScale *= 3
      ijkScale(trans, unitScale)
      ijkAdd(ijk, trans, ijk)
      ijkNormalize(ijk)
      if (substrate && ijk.i + ijk.j + ijk.k == maxDim) overage = FaceEdge
    }
    overage
  }

  // ---------------------------------------------------------------------
  // FaceIJK -> H3 index (and the reverse)
  // ---------------------------------------------------------------------

  /** FaceIJK at res -> canonical H3 cell index; H3Null when out of range. */
  def faceIjkToH3(fijkIn: FaceIJK, res: Int): Long =
    faceIjkToH3Impl(fijkIn, res, faceIjkBaseCells)

  private def tableBaseCell(table: Array[Array[Array[Array[Array[Int]]]]], fijk: FaceIJK): Int = {
    val c = fijk.coord
    if (c.i < 0 || c.i > 2 || c.j < 0 || c.j > 2 || c.k < 0 || c.k > 2) InvalidBaseCell
    else table(fijk.face)(c.i)(c.j)(c.k)(0)
  }

  private def tableRot(table: Array[Array[Array[Array[Array[Int]]]]], fijk: FaceIJK): Int = {
    val c = fijk.coord
    if (c.i < 0 || c.i > 2 || c.j < 0 || c.j > 2 || c.k < 0 || c.k > 2) -1
    else table(fijk.face)(c.i)(c.j)(c.k)(1)
  }

  private def faceIjkToH3Impl(fijkIn: FaceIJK, res: Int,
      table: Array[Array[Array[Array[Array[Int]]]]]): Long = {
    var h = (1L << 59) | (res.toLong << 52)
    // initialize digits res+1..15 to 7, digits 1..res get set below
    h |= H3Core.lowerDigitsOnes(res)

    if (res == 0) {
      val c = fijkIn.coord
      if (c.i > MaxFaceCoord || c.j > MaxFaceCoord || c.k > MaxFaceCoord) return H3Core.H3Null
      val bc = tableBaseCell(table, fijkIn)
      if (bc == InvalidBaseCell) return H3Core.H3Null
      return h | (bc.toLong << 45)
    }

    val fijk = fijkIn.copy()
    val ijk = fijk.coord
    var r = res - 1
    while (r >= 0) {
      val lastI = ijk.i; val lastJ = ijk.j; val lastK = ijk.k
      val lastCenter = new IJK(0, 0, 0)
      if (isResClassIII(r + 1)) {
        upAp7(ijk)
        lastCenter.set(ijk)
        downAp7(lastCenter)
      } else {
        upAp7r(ijk)
        lastCenter.set(ijk)
        downAp7r(lastCenter)
      }
      val diff = new IJK(lastI - lastCenter.i, lastJ - lastCenter.j, lastK - lastCenter.k)
      ijkNormalize(diff)
      val digit = unitIjkToDigit(diff)
      if (digit == InvalidDigit) return H3Core.H3Null
      h = H3Core.withDigit(h, r + 1, digit)
      r -= 1
    }

    if (ijk.i > MaxFaceCoord || ijk.j > MaxFaceCoord || ijk.k > MaxFaceCoord) return H3Core.H3Null
    val bc = tableBaseCell(table, fijk)
    if (bc == InvalidBaseCell) return H3Core.H3Null
    h |= bc.toLong << 45

    val numRots = tableRot(table, fijk)
    if (isBaseCellPentagon(bc)) {
      if (H3Core.leadingNonZeroDigit(h) == 1) { // K axis
        if (baseCellIsCwOffset(bc, fijk.face)) h = H3Core.rotate60cw(h)
        else h = H3Core.rotate60ccw(h)
      }
      var i = 0
      while (i < numRots) { h = H3Core.rotatePent60ccw(h); i += 1 }
    } else {
      var i = 0
      while (i < numRots) { h = H3Core.rotate60ccw(h); i += 1 }
    }
    h
  }

  /** walk an index's digits down from its base cell home position;
    * returns true when an overage onto another face is possible. */
  def h3ToFaceIjkWithInitializedFijk(h: Long, fijk: FaceIJK): Boolean = {
    val ijk = fijk.coord
    val res = H3Core.getResolution(h)
    var possibleOverage = true
    if (!isBaseCellPentagon(H3Core.getBaseCell(h)) &&
        (res == 0 || (ijk.i == 0 && ijk.j == 0 && ijk.k == 0))) possibleOverage = false
    var r = 1
    while (r <= res) {
      if (isResClassIII(r)) downAp7(ijk) else downAp7r(ijk)
      ijkNeighbor(ijk, H3Core.getDigit(h, r))
      r += 1
    }
    possibleOverage
  }

  /** H3 cell -> FaceIJK on its canonical face. */
  def h3ToFaceIjk(hIn: Long): FaceIJK = {
    var h = hIn
    val baseCell = H3Core.getBaseCell(h)
    // adjust for the pentagonal missing sequence
    if (isBaseCellPentagon(baseCell) && H3Core.leadingNonZeroDigit(h) == 5)
      h = H3Core.rotate60cw(h)

    val d = baseCellData(baseCell)
    val fijk = new FaceIJK(d(0), new IJK(d(1), d(2), d(3)))
    if (!h3ToFaceIjkWithInitializedFijk(h, fijk)) return fijk

    val origI = fijk.coord.i; val origJ = fijk.coord.j; val origK = fijk.coord.k
    var res = H3Core.getResolution(h)
    if (isResClassIII(res)) { downAp7r(fijk.coord); res += 1 }

    val pentLeading4 = isBaseCellPentagon(baseCell) && H3Core.leadingNonZeroDigit(h) == 4
    if (adjustOverageClassII(fijk, res, pentLeading4, substrate = false) != NoOverage) {
      if (isBaseCellPentagon(baseCell)) {
        while (adjustOverageClassII(fijk, res, pentLeading4 = false, substrate = false) != NoOverage) {}
      }
      if (res != H3Core.getResolution(h)) upAp7r(fijk.coord)
    } else if (res != H3Core.getResolution(h)) {
      fijk.coord.set(origI, origJ, origK)
    }
    fijk
  }

  // ---------------------------------------------------------------------
  // public conversions
  // ---------------------------------------------------------------------

  /** (lat, lng) degrees -> H3 cell at res; H3Null on invalid input. */
  def latLngToCell(latDeg: Double, lngDeg: Double, res: Int): Long = {
    if (res < 0 || res > MaxRes) return H3Core.H3Null
    if (latDeg.isNaN || lngDeg.isNaN || latDeg.isInfinite || lngDeg.isInfinite) return H3Core.H3Null
    val g = LatLng(toRadians(latDeg), toRadians(lngDeg))
    val fijk = geoToFaceIjk(g, res)
    faceIjkToH3(fijk, res)
  }

  /** cell -> centroid (lat, lng) degrees; null convention handled by caller. */
  def cellToLatLng(h: Long): LatLng = {
    val fijk = h3ToFaceIjk(h)
    val res = H3Core.getResolution(h)
    val (x, y) = ijkToHex2d(fijk.coord)
    val g = hex2dToGeo(x, y, fijk.face, res, substrate = false)
    LatLng(toDegrees(g.lat), toDegrees(g.lng))
  }

  def cellToLatLngRads(h: Long): LatLng = {
    val fijk = h3ToFaceIjk(h)
    val res = H3Core.getResolution(h)
    val (x, y) = ijkToHex2d(fijk.coord)
    hex2dToGeo(x, y, fijk.face, res, substrate = false)
  }

  // ---------------------------------------------------------------------
  // cell boundary
  // ---------------------------------------------------------------------

  // vertices of an origin-centered cell in Class II / Class III substrate
  // grids (aperture sequences 33r and 33r7r)
  private val vertexClassII: Array[Array[Int]] =
    Array(Array(2, 1, 0), Array(1, 2, 0), Array(0, 2, 1), Array(0, 1, 2), Array(1, 0, 2), Array(2, 0, 1))
  private val vertexClassIII: Array[Array[Int]] =
    Array(Array(5, 4, 0), Array(1, 5, 0), Array(0, 5, 4), Array(0, 1, 5), Array(4, 0, 5), Array(5, 0, 1))

  /** adjacentFaceDir(f)(g) = quadrant (IJ/KI/JK) of face f toward face g;
    * -1 if not adjacent. Derived from [[faceNeighbors]]. */
  lazy val adjacentFaceDir: Array[Array[Int]] = {
    val t = Array.fill(NumIcosaFaces, NumIcosaFaces)(-1)
    for (f <- 0 until NumIcosaFaces; q <- 1 to 3)
      t(f)(faceNeighbors(f)(q)(0)) = q
    t
  }

  /** substrate FaceIJK vertices of a cell (hexagon: 6, pentagon: 5);
    * also returns the adjusted (substrate) resolution. */
  private def faceIjkToVerts(fijk: FaceIJK, res: Int, pent: Boolean): (Array[FaceIJK], Int, FaceIJK) = {
    var adjRes = res
    val center = fijk.copy()
    // adjust the center point to be in an aperture 33r substrate grid
    downAp3(center.coord)
    downAp3r(center.coord)
    val verts = if (isResClassIII(res)) { downAp7r(center.coord); adjRes += 1; vertexClassIII }
    else vertexClassII
    val n = if (pent) 5 else 6
    val out = new Array[FaceIJK](n)
    var v = 0
    while (v < n) {
      val f = new FaceIJK(center.face, center.coord.copy())
      val off = verts(v)
      f.coord.i += off(0); f.coord.j += off(1); f.coord.k += off(2)
      ijkNormalize(f.coord)
      out(v) = f
      v += 1
    }
    (out, adjRes, center)
  }

  private def v2dIntersect(p0x: Double, p0y: Double, p1x: Double, p1y: Double,
      p2x: Double, p2y: Double, p3x: Double, p3y: Double): (Double, Double) = {
    val s1x = p1x - p0x; val s1y = p1y - p0y
    val s2x = p3x - p2x; val s2y = p3y - p2y
    val t = (s2x * (p0y - p2y) - s2y * (p0x - p2x)) / (-s2x * s1y + s1x * s2y)
    (p0x + t * s1x, p0y + t * s1y)
  }

  /** boundary vertices of a cell in (lat, lng) radians, closed-ring order.
    * Includes the extra icosahedron-edge intersection vertices for Class III
    * cells that cross a face edge (up to 10 verts for hexagons). */
  def cellToBoundaryRads(h: Long): Array[LatLng] = {
    val fijk = h3ToFaceIjk(h)
    val res = H3Core.getResolution(h)
    if (H3Core.isPentagon(h)) pentBoundaryRads(fijk, res)
    else hexBoundaryRads(fijk, res)
  }

  /** icosa face edge endpoints in substrate 2-D coords for the given
    * quadrant: IJ -> (v0,v1), JK -> (v1,v2), KI -> (v2,v0). */
  @inline private def faceEdge(quad: Int, maxDim: Double): (Double, Double, Double, Double) = {
    val v0x = 3.0 * maxDim; val v0y = 0.0
    val v1x = -1.5 * maxDim; val v1y = 3.0 * Sqrt3_2 * maxDim
    val v2x = -1.5 * maxDim; val v2y = -3.0 * Sqrt3_2 * maxDim
    quad match {
      case IJQuad => (v0x, v0y, v1x, v1y)
      case JKQuad => (v1x, v1y, v2x, v2y)
      case _ => (v2x, v2y, v0x, v0y)
    }
  }

  private def hexBoundaryRads(fijk: FaceIJK, res: Int): Array[LatLng] = {
    val (verts, adjRes, center) = faceIjkToVerts(fijk, res, pent = false)
    val out = scala.collection.mutable.ArrayBuffer.empty[LatLng]
    var lastFace = -1
    var lastOverage = NoOverage
    var vert = 0
    while (vert < 7) {
      val v = vert % 6
      val fv = verts(v).copy()
      val overage = adjustOverageClassII(fv, adjRes, pentLeading4 = false, substrate = true)

      if (isResClassIII(res) && vert > 0 && fv.face != lastFace && lastOverage != FaceEdge) {
        // cell edge crosses an icosa edge: insert the intersection vertex,
        // computed in the center face's coordinate system
        val lastV = (v + 5) % 6
        val (ox0, oy0) = ijkToHex2d(verts(lastV).coord)
        val (ox1, oy1) = ijkToHex2d(verts(v).coord)
        val maxDim = maxDimByCIIres(adjRes).toDouble
        val face2 = if (lastFace == center.face) fv.face else lastFace
        val (e0x, e0y, e1x, e1y) = faceEdge(adjacentFaceDir(center.face)(face2), maxDim)
        val (ix, iy) = v2dIntersect(ox0, oy0, ox1, oy1, e0x, e0y, e1x, e1y)
        val dup0 = abs(ox0 - ix) < 1e-9 && abs(oy0 - iy) < 1e-9
        val dup1 = abs(ox1 - ix) < 1e-9 && abs(oy1 - iy) < 1e-9
        if (!dup0 && !dup1)
          out += hex2dToGeo(ix, iy, center.face, adjRes, substrate = true)
      }

      if (vert < 6) {
        val (x, y) = ijkToHex2d(fv.coord)
        out += hex2dToGeo(x, y, fv.face, adjRes, substrate = true)
      }
      lastFace = fv.face
      lastOverage = overage
      vert += 1
    }
    out.toArray
  }

  private def pentBoundaryRads(fijk: FaceIJK, res: Int): Array[LatLng] = {
    val (verts, adjRes, _) = faceIjkToVerts(fijk, res, pent = true)
    val out = scala.collection.mutable.ArrayBuffer.empty[LatLng]
    var lastFijk: FaceIJK = null
    var vert = 0
    while (vert < 6) {
      val v = vert % 5
      val fv = verts(v).copy()
      // fold until the vertex sits on its proper face
      var ov = adjustOverageClassII(fv, adjRes, pentLeading4 = false, substrate = true)
      while (ov == NewFace) ov = adjustOverageClassII(fv, adjRes, pentLeading4 = false, substrate = true)

      // all Class III pentagon edges cross icosa edges: insert the
      // intersection vertex, computed in the *previous* vertex's face frame
      if (isResClassIII(res) && vert > 0) {
        val (ox0, oy0) = ijkToHex2d(lastFijk.coord)
        // transform the current vertex into lastFijk's face frame
        val tmp = fv.copy()
        val orient = faceNeighbors(tmp.face)(adjacentFaceDir(tmp.face)(lastFijk.face))
        tmp.face = orient(0)
        var i = 0
        while (i < orient(4)) { ijkRotate60ccw(tmp.coord); i += 1 }
        val trans = new IJK(orient(1), orient(2), orient(3))
        ijkScale(trans, unitScaleByCIIres(adjRes) * 3)
        ijkAdd(tmp.coord, trans, tmp.coord)
        ijkNormalize(tmp.coord)
        val (ox1, oy1) = ijkToHex2d(tmp.coord)

        val maxDim = maxDimByCIIres(adjRes).toDouble
        val (e0x, e0y, e1x, e1y) = faceEdge(adjacentFaceDir(lastFijk.face)(fv.face), maxDim)
        val (ix, iy) = v2dIntersect(ox0, oy0, ox1, oy1, e0x, e0y, e1x, e1y)
        out += hex2dToGeo(ix, iy, lastFijk.face, adjRes, substrate = true)
      }

      if (vert < 5) {
        val (x, y) = ijkToHex2d(fv.coord)
        out += hex2dToGeo(x, y, fv.face, adjRes, substrate = true)
      }
      lastFijk = fv
      vert += 1
    }
    out.toArray
  }

  /** boundary in degrees. */
  def cellToBoundary(h: Long): Array[LatLng] =
    cellToBoundaryRads(h).map(g => LatLng(toDegrees(g.lat), toDegrees(g.lng)))

  // ---------------------------------------------------------------------
  // areas and lengths
  // ---------------------------------------------------------------------

  /** spherical triangle area via l'Huilier. */
  def triangleEdgeLengthsToArea(a0: Double, b0: Double, c0: Double): Double = {
    var s = (a0 + b0 + c0) / 2.0
    val a = (s - a0) / 2.0
    val b = (s - b0) / 2.0
    val c = (s - c0) / 2.0
    s = s / 2.0
    4.0 * atan(sqrt(tan(s) * tan(a) * tan(b) * tan(c)))
  }

  def triangleAreaRads2(a: LatLng, b: LatLng, c: LatLng): Double =
    triangleEdgeLengthsToArea(
      greatCircleDistanceRads(a, b),
      greatCircleDistanceRads(b, c),
      greatCircleDistanceRads(c, a))

  /** exact spherical cell area in steradians. */
  def cellAreaRads2(h: Long): Double = {
    val c = cellToLatLngRads(h)
    val verts = cellToBoundaryRads(h)
    var area = 0.0
    var i = 0
    while (i < verts.length) {
      val j = (i + 1) % verts.length
      area += triangleAreaRads2(verts(i), verts(j), c)
      i += 1
    }
    area
  }

  def cellAreaKm2(h: Long): Double = cellAreaRads2(h) * EarthRadiusKm * EarthRadiusKm
  def cellAreaM2(h: Long): Double = cellAreaKm2(h) * 1e6
}
