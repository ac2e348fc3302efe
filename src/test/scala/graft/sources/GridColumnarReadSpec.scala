package graft.sources

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Differential spec of the columnar grid scan over HDF5 and netCDF
  * classic files, the sibling of [[ZarrColumnarReadSpec]]: the DSv2 read
  * equals the whole-file decoders ([[HDF5.read]], [[NetCDF3.readValues]])
  * and the written values row for row, in the mount's row order (tasks
  * in plan order — HDF5 chunks by file offset, netCDF-3 record batches by
  * record — then C order inside each chunk), with its projections and
  * its `idx`/`dK` pushdown.
  *
  * HDF5 inputs: float64 stores from every writer generation (v1 B-tree,
  * v3 object headers, dense root, fixed array, implicit, extensible
  * array, v2 B-tree), plain, deflate, shuffle and fletcher32, ranks 1-4
  * with ragged edge chunks, contiguous and big-endian contiguous
  * datasets, plus every foreign `.h5` fixture (float32 both endians,
  * int32 signed and unsigned, nbit, scale-offset, szip, groups). The
  * writer emits float64 only, so the chunk decoder's primitive loop is
  * also checked per element type (class, size, sign, endian) against an
  * independent element reader. netCDF-3 inputs: CDF-1, CDF-2 and CDF-5
  * files with every type the version allows, fixed and record
  * variables, padded multi-variable record strides, and tasks that take
  * the span read and the per-record read. */
class GridColumnarReadSpec extends SparkSpec {

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private def strides(dims: Seq[Int]): Seq[Int] = dims.scanRight(1)(_ * _).tail

  /** The global indexes of the box at `origin` of extent `box`, in C
    * order, pad positions skipped. */
  private def boxElems(shape: Seq[Int], origin: Seq[Int], box: Seq[Int]): Seq[Long] = {
    val gs = strides(shape)
    val bs = strides(box)
    (0 until box.product).flatMap { k =>
      val coords = box.indices.map(d => origin(d) + (k / bs(d)) % box(d))
      if (coords.zip(shape).exists { case (c, s) => c >= s }) None
      else Some(coords.zip(gs).map { case (c, s) => c.toLong * s }.sum)
    }
  }

  /** One variable of one file: its shape, the global indexes in the
    * mount's row order and the values it must read. */
  private case class Case(label: String, fmt: GridFormat, path: String, name: String,
      shape: Seq[Int], order: Seq[Long], expect: Array[Double])

  /** (idx, d0..d3, value) rows in the mount's order. */
  private def wantOf(c: Case): Seq[(Long, Seq[Long], Double)] = {
    val gs = strides(c.shape)
    c.order.map { g =>
      (g, (0 until 4).map(k => if (k < c.shape.size) (g / gs(k)) % c.shape(k) else 0L),
        c.expect(g.toInt))
    }
  }

  private def load(c: Case): DataFrame = c.fmt.reader(spark).option("path", c.path)
    .option("partitions", "3").option("targetBytes", TargetBytes.toString).load()
    .where(col("dataset") === c.name)

  private lazy val root: Path = Files.createTempDirectory("grid-columnar")

  /** netCDF-3 record-batch size: three records of the dominant variable,
    * every record of the others. */
  private val TargetBytes = 720

  // ---- HDF5 ---------------------------------------------------------------

  /** Every dataset of an HDF5 file as a case: the mount order is the
    * manifest's chunks sorted by file offset; the values are `written`
    * where given, else the whole-file decode's. */
  private def hdf5Cases(label: String, path: String,
      written: Map[String, Array[Double]]): Seq[Case] = {
    val whole = HDF5.read(Files.readAllBytes(java.nio.file.Paths.get(path)))
      .map(d => d.name -> d).toMap
    val in = new PagedFileInput(path)
    try HDF5.manifest(in).map { case (v, refs) =>
      val shape = v.dims.map(_.toInt)
      val order = refs.sortBy(_.offset).flatMap(r =>
        boxElems(shape, r.origin.map(_.toInt), v.chunkDims))
      val w = whole(v.name)
      written.get(v.name).foreach { vals =>
        assert(vals.indices.forall(i => same(vals(i), w.data(i))),
          s"$label/${v.name}: the whole-file decode disagrees with the written values")
      }
      Case(s"hdf5 $label/${v.name} shape $shape chunks ${v.chunkDims}", GridFormat.Hdf5,
        path, v.name, shape, order, written.getOrElse(v.name, w.data))
    } finally in.close()
  }

  private lazy val h5Cases: Seq[Case] = {
    val rnd = new scala.util.Random(20261019L)
    def values(n: Int): Array[Double] = Array.tabulate(n)(i => i % 11 match {
      case 0 => Double.NaN
      case 1 => -0.0
      case 2 => Double.MinPositiveValue
      case _ => rnd.nextGaussian() * 1e5
    })
    def dims(rank: Int): Seq[Int] = Seq.fill(rank)(
      if (rank == 1) 9 + rnd.nextInt(12) else if (rank == 2) 3 + rnd.nextInt(5) else 2 + rnd.nextInt(3))
    // ragged: a chunk side that does not divide the array side where it can
    def chunkOf(shape: Seq[Int]): Seq[Int] = shape.map { s =>
      val c = 1 + rnd.nextInt(s)
      if (s % c == 0 && c > 1) c - 1 else c
    }
    type Writer = Seq[HDF5.DsSpec] => Array[Byte]
    val writers: Seq[(String, Writer)] = Seq(
      "v1_btree_plain" -> (s => HDF5.write(s)),
      "v1_btree_deflate" -> (s => HDF5.write(s, deflate = true)),
      "v3_deflate_shuffle" -> (s => HDF5.writeLatest(s, deflate = true, shuffle = true)),
      "v3_fletcher_small_leaves" -> (s => HDF5.writeLatest(s, fletcher = true, btreeLeafCap = 2)),
      "dense_root" -> (s => HDF5.writeDense(s, deflate = true)),
      "v4_fixed_array" -> (s => HDF5.writeLatestV4(s, deflate = true, shuffle = true,
        fixedArrayAlways = true)),
      "v4_implicit" -> (s => HDF5.writeLatestV4(s)),
      "v4_extensible" -> (s => HDF5.writeUnlimited(s, deflate = true, shuffle = true,
        ea = HDF5.EaParams(maxBits = 16, iblkElmts = 4, minPtrs = 2, minElmts = 2,
          pageBits = 2))),
      "v4_btree2" -> (s => HDF5.writeBtree2(s, deflate = true, nodeSize = 256)))
    val generated = writers.zipWithIndex.flatMap { case ((label, write), i) =>
      val rank = 1 + i % 4
      val shape = dims(rank)
      val specs = Seq(
        HDF5.DsSpec("g", shape.map(_.toLong), values(shape.product),
          chunkDims = Some(chunkOf(shape))),
        HDF5.DsSpec("c", Seq(3L, 4L), values(12)))
      val p = root.resolve(s"$label.h5")
      Files.write(p, write(specs))
      hdf5Cases(label, p.toString, specs.map(s => s.name -> s.data).toMap)
    }
    val beSpecs = Seq(HDF5.DsSpec("be", Seq(4L, 5L), values(20)))
    val be = root.resolve("big_endian.h5")
    Files.write(be, HDF5.write(beSpecs, bigEndian = true))
    val foreign = new java.io.File("src/test/resources/fixtures").listFiles()
      .filter(f => f.getName.startsWith("golden") && f.getName.endsWith(".h5"))
      .sortBy(_.getName).toSeq
    assert(foreign.size >= 10, foreign)
    generated ++ hdf5Cases("big_endian", be.toString, Map("be" -> beSpecs.head.data)) ++
      foreign.flatMap(f => hdf5Cases(f.getName, f.getAbsolutePath, Map.empty))
  }

  // ---- netCDF-3 -------------------------------------------------------------

  /** Values exactly representable in netCDF type `t`, type bounds and
    * float specials included. */
  private def ncValues(t: Int, n: Int, rnd: scala.util.Random): Array[Double] = {
    import NetCDF3._
    def ints(lo: Long, hi: Long): Array[Double] = Array.tabulate(n)(i =>
      (if (i % 5 == 0) lo else if (i % 5 == 1) hi
        else lo + (rnd.nextLong() & Long.MaxValue) % (hi - lo + 1)).toDouble)
    t match {
      case NcByte => ints(-128, 127)
      case NcShort => ints(-32768, 32767)
      case NcInt => ints(Int.MinValue, Int.MaxValue)
      case NcUByte => ints(0, 255)
      case NcUShort => ints(0, 65535)
      case NcUInt => ints(0, 0xffffffffL)
      case NcInt64 | NcUInt64 => Array.tabulate(n)(i =>
        if (i % 3 == 0) (1L << 53).toDouble else (rnd.nextLong() >> 12).abs.toDouble)
      case NcFloat => Array.tabulate(n)(i => if (i % 7 == 0) Double.NaN
        else (rnd.nextGaussian() * 1e3).toFloat.toDouble)
      case NcDouble => Array.tabulate(n)(i => if (i % 7 == 0) Double.NaN
        else if (i % 7 == 1) -0.0 else rnd.nextGaussian() * 1e6)
    }
  }

  private lazy val ncCases: Seq[Case] = {
    import NetCDF3._
    val rnd = new scala.util.Random(20261020L)
    Seq(1, 2, 5).flatMap { version =>
      val (nrec, ny, nx) = (7, 6, 5)
      val types = Seq(NcByte, NcShort, NcInt, NcFloat, NcDouble) ++
        (if (version == 5) Seq(NcUByte, NcUShort, NcUInt, NcInt64, NcUInt64) else Nil)
      // one dominant (time, y, x) double record variable takes the span
      // read; every other record variable — (time, x) of each type, odd
      // byte/short counts padded to 4 — stays per-record
      val recVars = VarSpec("big", Seq("time", "y", "x"), NcDouble, Nil,
        ncValues(NcDouble, nrec * ny * nx, rnd)) +:
        types.map(t => VarSpec(s"r$t", Seq("time", "x"), t, Nil, ncValues(t, nrec * nx, rnd)))
      val fixed = types.map(t => VarSpec(s"f$t", Seq("y", "x"), t, Nil, ncValues(t, ny * nx, rnd))) :+
        VarSpec("s", Nil, NcDouble, Nil, Array(42.5))
      val vars = fixed ++ recVars
      val bytes = write(Seq(Dim("time", 0), Dim("y", ny), Dim("x", nx)), Nil, vars,
        numRecs = nrec, version = version)
      val p = root.resolve(s"cdf$version.nc")
      Files.write(p, bytes)
      vars.map { v =>
        val (_, shape, whole) = readValues(bytes, v.name)
        assert(v.data.indices.forall(i => same(v.data(i), whole(i))),
          s"CDF-$version ${v.name}: the whole-file decode disagrees with the written values")
        // one variable's record batches come out record by record
        Case(s"netcdf3 CDF-$version ${v.name} type ${v.ncType} shape $shape", GridFormat.NetCDF3,
          p.toString, v.name, shape, 0L until shape.map(_.toLong).product, v.data)
      }
    }
  }

  private lazy val cases: Seq[Case] = h5Cases ++ ncCases

  test("generated netCDF-3 files take the span read and the per-record read") {
    val files = ncCases.map(_.path).distinct
    assert(files.size == 3)
    files.foreach { p =>
      val h = NetCDF3ChunkIngest.headerOf(p)
      val stride = NetCDF3.recordStrideOf(h)
      val recBytes = h.vars.filter(_.dimIds.headOption.exists(h.dims(_).isRecord))
        .map(v => NetCDF3.shapeOf(h, v).drop(1).product.toLong * NetCDF3.typeSize(v.ncType))
      // the span rule (a variable owns >= half the stride, and its batch
      // holds more than one record) holds for the dominant variable only
      assert(recBytes.count(b => 2 * b >= stride && TargetBytes / b >= 2) == 1, p)
      assert(recBytes.count(b => 2 * b < stride && TargetBytes / b >= 2) >= 5, p)
      // padded record slabs: some variable's slab is not a multiple of 4
      assert(h.vars.exists(v => v.dimIds.headOption.exists(h.dims(_).isRecord) &&
        NetCDF3.shapeOf(h, v).drop(1).product * NetCDF3.typeSize(v.ncType) % 4 != 0), p)
    }
  }

  test("HDF5 chunk decode: every element type and byte order against an element reader") {
    val rnd = new scala.util.Random(11L)
    for ((cls, size) <- Seq((1, 8), (1, 4), (0, 1), (0, 2), (0, 4), (0, 8));
         signed <- Seq(true, false); big <- Seq(false, true)) {
      val n = 37
      val raw = new Array[Byte](n * size)
      rnd.nextBytes(raw)
      val got = HDF5.chunkValues(raw,
        HDF5.H5Var("t", Seq(n.toLong), Seq(n), cls, size, big, Nil, signed))
      (0 until n).foreach { i =>
        val bytes = raw.slice(i * size, (i + 1) * size)
        val be = if (big) bytes else bytes.reverse
        val bits = be.foldLeft(BigInt(0))((acc, b) => (acc << 8) | (b & 0xff))
        val want: Double = (cls, size) match {
          case (1, 8) => java.lang.Double.longBitsToDouble(bits.toLong)
          case (1, 4) => java.lang.Float.intBitsToFloat(bits.toInt).toDouble
          case (0, _) =>
            val v = if (signed && bits.testBit(8 * size - 1)) bits - (BigInt(1) << (8 * size))
              else bits
            v.toDouble
        }
        // an unsigned 64-bit value above 2^63 rounds twice in the decoder
        val ok = same(got(i), want) ||
          (cls == 0 && size == 8 && math.abs(got(i) - want) <= math.ulp(want))
        assert(ok, s"class $cls size $size signed $signed big $big element $i: " +
          s"${got(i)} vs $want")
      }
    }
  }

  test("HDF5 and netCDF-3: the columnar read equals the whole-file read row for row, in order") {
    assert(h5Cases.map(_.shape.size).toSet == Set(1, 2, 3, 4))
    assert(h5Cases.exists(c => c.label.contains("golden_v2.h5")))
    cases.foreach { c =>
      val want = wantOf(c)
      val rows = load(c).collect()
      assert(rows.length == want.length, c.label)
      rows.zip(want).zipWithIndex.foreach { case ((r, (g, coords, v)), i) =>
        assert(r.getString(0) == c.path && r.getString(1) == c.name, c.label)
        assert(r.getLong(2) == g, s"${c.label}: row $i idx ${r.getLong(2)}, want $g")
        assert(same(r.getDouble(3), v), s"${c.label}: row $i value ${r.getDouble(3)}, want $v")
        assert((4 until 8).map(r.getLong) == coords, s"${c.label}: row $i coords")
      }
    }
  }

  test("HDF5 and netCDF-3: projections without value, value only, and every dK") {
    cases.foreach { c =>
      val want = wantOf(c)
      val df = load(c)
      val noValue = df.select("path", "dataset", "idx", "d0", "d1", "d2", "d3").collect()
      assert(noValue.map(r => (r.getLong(2), (3 until 7).map(r.getLong))).toSeq ==
        want.map(w => (w._1, w._2)), c.label)
      val values = df.select("value").collect().map(_.getDouble(0))
      assert(values.length == want.length &&
        values.zip(want).forall { case (a, w) => same(a, w._3) }, c.label)
      val dims = df.select("d3", "d2", "d1", "d0").collect()
        .map(r => (0 until 4).reverse.map(r.getLong)).toSeq
      assert(dims == want.map(_._2), c.label)
    }
  }

  test("HDF5 and netCDF-3: idx and dK pushdown keep the residual rows, in order") {
    val rnd = new scala.util.Random(7L)
    cases.filter(_.shape.nonEmpty).foreach { c =>
      val want = wantOf(c)
      val n = c.shape.product
      val (lo, hi) = { val a = rnd.nextInt(n); (a.toLong, (a + rnd.nextInt(n - a)).toLong) }
      val k = rnd.nextInt(c.shape.size)
      val (dlo, dhi) = {
        val a = rnd.nextInt(c.shape(k)); (a.toLong, (a + rnd.nextInt(c.shape(k) - a)).toLong)
      }
      def key(r: Row): (Long, Double) = (r.getLong(0), r.getDouble(1))
      def check(df: DataFrame, keep: ((Long, Seq[Long], Double)) => Boolean,
          what: String): Unit = {
        val got = df.select("idx", "value").collect().map(key).toSeq
        val exp = want.filter(keep).map(w => (w._1, w._3))
        assert(got.length == exp.length &&
          got.zip(exp).forall { case (a, b) => a._1 == b._1 && same(a._2, b._2) },
          s"${c.label}: $what")
      }
      val dk = MountDsv2.DimCols(k)
      check(load(c).where(col("idx").between(lo, hi)),
        w => w._1 >= lo && w._1 <= hi, s"idx in [$lo, $hi]")
      check(load(c).where(col(dk).between(dlo, dhi)),
        w => w._2(k) >= dlo && w._2(k) <= dhi, s"$dk in [$dlo, $dhi]")
    }
  }
}
