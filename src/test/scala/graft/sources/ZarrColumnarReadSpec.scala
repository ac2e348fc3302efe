package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Differential spec of the columnar zarr mount: for generated stores
  * of ranks 1-4 with ragged edge chunks, absent chunk files and absent
  * shard-inner chunks, v2 raw/zlib/blosc, v3 plain/gzip and sharded v3,
  * over every dtype, the DSv2 read equals the whole-array readers
  * ([[Zarr.readArray]], [[Zarr3.readArray]]) row for row and in the
  * mount's row order: tasks in chunk-grid order (shards, then their
  * inner grid), elements in C order inside each chunk. The written
  * values are known, so the decode is also checked against them, not
  * only against the whole-array reader that shares it. */
class ZarrColumnarReadSpec extends SparkSpec {

  private val Fmt = "graft.sources.ZarrDataSource"

  /** One generated array: the layout it was written with and the
    * values (global C order) a reader must return. */
  private case class Case(label: String, name: String, v3: Boolean,
      shape: Seq[Int], chunks: Seq[Int], inner: Option[Seq[Int]],
      expect: Array[Double])

  private def grid(shape: Seq[Int], box: Seq[Int]): Seq[Seq[Int]] =
    shape.zip(box).map { case (s, c) => (s + c - 1) / c }
      .foldLeft(Seq(Seq.empty[Int]))((acc, n) => acc.flatMap(p => (0 until n).map(p :+ _)))

  private def strides(dims: Seq[Int]): Seq[Int] = dims.scanRight(1)(_ * _).tail

  /** The (global index, within-box index) pairs of the box at `origin`
    * of extent `box`, in C order, pad positions skipped — written
    * element by element, independently of the mount's run walk. */
  private def boxElems(shape: Seq[Int], origin: Seq[Int], box: Seq[Int]): Seq[(Long, Int)] = {
    val gs = strides(shape)
    val bs = strides(box)
    (0 until box.product).flatMap { k =>
      val coords = box.indices.map(d => origin(d) + (k / bs(d)) % box(d))
      if (coords.zip(shape).exists { case (c, s) => c >= s }) None
      else Some((coords.zip(gs).map { case (c, s) => c.toLong * s }.sum, k))
    }
  }

  // ---- writers ----------------------------------------------------------

  /** Element kind ('f'/'i'/'u') and width of a v2 dtype or v3 data_type. */
  private def kindOf(dtype: String): (Char, Int) =
    if (dtype.head == '<' || dtype.head == '>' || dtype.head == '|')
      (dtype(1), dtype.last.asDigit)
    else (dtype.head, dtype.dropWhile(!_.isDigit).toInt / 8)

  private def encode(vals: Array[Double], dtype: String, big: Boolean): Array[Byte] = {
    val (kind, size) = kindOf(dtype)
    val bb = ByteBuffer.allocate(vals.length * size)
      .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    vals.foreach { v =>
      (kind, size) match {
        case ('f', 8) => bb.putDouble(v)
        case ('f', 4) => bb.putFloat(v.toFloat)
        case (_, 8) => bb.putLong(v.toLong)
        case (_, 4) => bb.putInt(v.toLong.toInt)
        case (_, 2) => bb.putShort(v.toLong.toShort)
        case (_, 1) => bb.put(v.toLong.toByte)
      }
    }
    bb.array()
  }

  /** Values exactly representable in `dtype`, with NaN, -0.0 and
    * extremes among the floats and the type's bounds among the ints. */
  private def valuesFor(dtype: String, n: Int, rnd: scala.util.Random): Array[Double] = {
    val (kind, size) = kindOf(dtype)
    Array.tabulate(n) { i =>
      (kind, size) match {
        case ('f', 8) => i % 13 match {
          case 0 => Double.NaN
          case 1 => -0.0
          case 2 => Double.MaxValue
          case _ => rnd.nextGaussian() * 1e6
        }
        case ('f', 4) => i % 11 match {
          case 0 => Double.NaN
          case 1 => Float.MinPositiveValue.toDouble
          case _ => (rnd.nextGaussian() * 1e3).toFloat.toDouble
        }
        case ('i', 8) => if (i % 7 == 0) -(1L << 53).toDouble
          else (rnd.nextLong() >> 12).toDouble
        case ('i', b) =>
          val lo = -(1L << (8 * b - 1)); val hi = (1L << (8 * b - 1)) - 1
          (if (i % 5 == 0) lo else if (i % 5 == 1) hi
            else lo + (rnd.nextLong() & Long.MaxValue) % (hi - lo + 1)).toDouble
        case ('u', b) =>
          val hi = (1L << (8 * b)) - 1
          (if (i % 5 == 0) hi else (rnd.nextLong() & Long.MaxValue) % (hi + 1)).toDouble
      }
    }
  }

  /** The values of one chunk-shaped box (pad = fill), C order. */
  private def boxValues(all: Array[Double], shape: Seq[Int], origin: Seq[Int],
      box: Seq[Int], fill: Double): Array[Double] = {
    val out = Array.fill(box.product)(fill)
    boxElems(shape, origin, box).foreach { case (g, k) => out(k) = all(g.toInt) }
    out
  }

  private def fillJson(fill: Double): String =
    if (fill.isNaN) "\"NaN\"" else fill.toLong.toString

  private def writeV2(store: Path, name: String, dtype: String, comp: String,
      shape: Seq[Int], chunks: Seq[Int], fill: Double, vals: Array[Double],
      missing: Seq[Int] => Boolean): Array[Double] = {
    val d = Files.createDirectories(store.resolve(name))
    val compJson = comp match {
      case "raw" => "null"
      case "zlib" => """{"id": "zlib", "level": 5}"""
      case "blosc" => """{"id": "blosc", "cname": "lz4", "clevel": 5, "shuffle": 1}"""
    }
    Files.writeString(d.resolve(".zarray"),
      s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}],
         | "chunks": [${chunks.mkString(", ")}], "dtype": "$dtype",
         | "compressor": $compJson, "fill_value": ${fillJson(fill)},
         | "filters": null, "order": "C"}""".stripMargin)
    val expect = vals.clone()
    grid(shape, chunks).foreach { ci =>
      val origin = ci.zip(chunks).map { case (c, w) => c * w }
      if (missing(ci)) {
        boxElems(shape, origin, chunks).foreach { case (g, _) => expect(g.toInt) = fill }
        holes("v2 chunk") += 1
      } else {
        val raw = encode(boxValues(vals, shape, origin, chunks, fill), dtype, dtype.head == '>')
        val bytes = comp match {
          case "raw" => raw
          case "zlib" =>
            val out = new java.io.ByteArrayOutputStream()
            val z = new java.util.zip.DeflaterOutputStream(out)
            z.write(raw); z.close(); out.toByteArray
          case "blosc" => Blosc.compress(raw, typesize = kindOf(dtype)._2,
            blocksize = math.max(8, raw.length))
        }
        Files.write(d.resolve(ci.mkString(".")), bytes)
      }
    }
    expect
  }

  /** Absent chunks written, by kind ("v2 chunk", "v3 chunk", "v3
    * shard", "v3 inner"), counting only those inside the array. */
  private val holes = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private def gzip(raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(out)
    z.write(raw); z.close(); out.toByteArray
  }

  /** A v3 array, plain or (with `inner`) sharded: shard files hold the
    * inner chunks back to back plus a crc32c-checked index at the end,
    * absent inner chunks marked (-1, -1). `missing` takes a chunk or
    * shard grid index; `missingInner` a (shard, inner) pair. */
  private def writeV3(store: Path, name: String, dtype: String, big: Boolean,
      gz: Boolean, shape: Seq[Int], chunks: Seq[Int], inner: Option[Seq[Int]],
      fill: Double, vals: Array[Double], missing: Seq[Int] => Boolean,
      missingInner: (Seq[Int], Seq[Int]) => Boolean): Array[Double] = {
    val d = Files.createDirectories(store.resolve(name))
    val endian = if (big) "big" else "little"
    val pipeline = s"""[{"name": "bytes", "configuration": {"endian": "$endian"}}""" +
      (if (gz) """, {"name": "gzip", "configuration": {"level": 5}}]""" else "]")
    val codecs = inner match {
      case None => pipeline
      case Some(ic) =>
        s"""[{"name": "sharding_indexed", "configuration": {
           |  "chunk_shape": [${ic.mkString(", ")}], "codecs": $pipeline,
           |  "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
           |    {"name": "crc32c"}], "index_location": "end"}}]""".stripMargin
    }
    Files.writeString(d.resolve("zarr.json"),
      s"""{"zarr_format": 3, "node_type": "array",
         | "shape": [${shape.mkString(", ")}], "data_type": "$dtype",
         | "chunk_grid": {"name": "regular",
         |   "configuration": {"chunk_shape": [${chunks.mkString(", ")}]}},
         | "fill_value": ${fillJson(fill)}, "codecs": $codecs}""".stripMargin)
    def enc(v: Array[Double]): Array[Byte] = {
      val raw = encode(v, dtype, big)
      if (gz) gzip(raw) else raw
    }
    val expect = vals.clone()
    def blank(origin: Seq[Int], box: Seq[Int], kind: String): Unit = {
      val in = boxElems(shape, origin, box)
      in.foreach { case (g, _) => expect(g.toInt) = fill }
      if (in.nonEmpty) holes(kind) += 1
    }
    grid(shape, chunks).foreach { ci =>
      val origin = ci.zip(chunks).map { case (c, w) => c * w }
      val f = ("c" +: ci.map(_.toString)).foldLeft(d)(_.resolve(_))
      if (missing(ci)) blank(origin, chunks, if (inner.isEmpty) "v3 chunk" else "v3 shard")
      else inner match {
        case None =>
          Files.createDirectories(f.getParent)
          Files.write(f, enc(boxValues(vals, shape, origin, chunks, fill)))
        case Some(ic) =>
          val body = new java.io.ByteArrayOutputStream()
          val inners = grid(chunks, ic)
          val index = ByteBuffer.allocate(inners.size * 16 + 4).order(ByteOrder.LITTLE_ENDIAN)
          inners.foreach { gi =>
            val io = origin.indices.map(k => origin(k) + gi(k) * ic(k))
            if (missingInner(ci, gi)) {
              blank(io, ic, "v3 inner"); index.putLong(-1L).putLong(-1L)
            }
            else {
              val bytes = enc(boxValues(vals, shape, io, ic, fill))
              index.putLong(body.size.toLong).putLong(bytes.length.toLong)
              body.write(bytes)
            }
          }
          val crc = new java.util.zip.CRC32C()
          crc.update(index.array(), 0, inners.size * 16)
          index.putInt(crc.getValue.toInt)
          body.write(index.array())
          Files.createDirectories(f.getParent)
          Files.write(f, body.toByteArray)
      }
    }
    expect
  }

  // ---- the generated cases ---------------------------------------------

  private val V2Dtypes = Seq("<f8", ">f8", "<f4", ">f4", "<i8", ">i8", "<i4", ">i4",
    "<i2", ">i2", "|i1", "|u1", "<u2", ">u2", "<u4", ">u4")
  private val V3Dtypes = Seq("float64", "float32", "int64", "int32", "int16", "int8",
    "uint32", "uint16", "uint8")

  private lazy val root: Path = Files.createTempDirectory("zarr-columnar")

  private lazy val cases: Seq[Case] = {
    val rnd = new scala.util.Random(20261017L)
    val dir = root
    def dims(rank: Int): Seq[Int] = Seq.fill(rank)(if (rank == 1) 9 + rnd.nextInt(15)
      else if (rank == 2) 3 + rnd.nextInt(6) else 2 + rnd.nextInt(3))
    // ragged: a chunk side that does not divide the array side where it can
    def chunkOf(shape: Seq[Int]): Seq[Int] = shape.map { s =>
      val c = 1 + rnd.nextInt(s)
      if (s % c == 0 && c > 1) c - 1 else c
    }
    val v2 = V2Dtypes.zipWithIndex.map { case (dt, i) =>
      val rank = 1 + i % 4
      val comp = Seq("raw", "zlib", "blosc")(i % 3)
      val shape = dims(rank)
      val chunks = chunkOf(shape)
      val fill = if (dt(1) == 'f') Double.NaN else 7.0
      val name = s"v2_${i}_${comp}"
      val vals = valuesFor(dt, shape.product, rnd)
      // every third chunk file is absent (not the first, so reads mix both)
      val n = grid(shape, chunks).size
      val skip = grid(shape, chunks).zipWithIndex
        .collect { case (ci, j) if n > 1 && j % 3 == 2 => ci }.toSet
      Case(s"v2 $dt $comp rank $rank shape $shape chunks $chunks", name, v3 = false,
        shape, chunks, None,
        writeV2(dir.resolve("v2.zarr"), name, dt, comp, shape, chunks, fill, vals, skip))
    }
    val v3 = V3Dtypes.zipWithIndex.flatMap { case (dt, i) =>
      Seq(false, true).map { sharded =>
        val rank = 1 + (i + (if (sharded) 2 else 0)) % 4
        val big = (i + (if (sharded) 1 else 0)) % 2 == 1
        val gz = i % 3 == 0
        val shape = dims(rank)
        val (chunks, inner) =
          if (!sharded) (chunkOf(shape), None)
          else {
            val ic = shape.map(s => 1 + rnd.nextInt(math.max(1, s / 2)))
            (ic.map(_ * (1 + rnd.nextInt(2))), Some(ic))
          }
        val fill = if (dt.head == 'f') Double.NaN else 3.0
        val name = s"v3_${i}_${if (sharded) "sharded" else "plain"}"
        val vals = valuesFor(dt, shape.product, rnd)
        val shards = grid(shape, chunks)
        val skip = if (shards.size > 2) Set(shards(1)) else Set.empty[Seq[Int]]
        val label = s"v3 $dt ${if (big) "BE" else "LE"} ${if (gz) "gzip" else "raw"} " +
          s"rank $rank shape $shape chunks $chunks inner $inner"
        Case(label, name, v3 = true, shape, chunks, inner,
          writeV3(dir.resolve("v3.zarr"), name, dt, big, gz, shape, chunks, inner,
            fill, vals, skip,
            (ci, gi) => gi.sum % 2 == 1 && (ci.sum + gi.sum) % 3 == 0))
      }
    }
    v2 ++ v3
  }

  private def storeOf(c: Case): Path = root.resolve(if (c.v3) "v3.zarr" else "v2.zarr")

  /** Expected rows (idx, d0..d3, value) in the mount's order. */
  private def expected(c: Case, whole: Array[Double]): Seq[(Long, Seq[Long], Double)] = {
    val gs = strides(c.shape)
    val boxes = c.inner match {
      case None => grid(c.shape, c.chunks).map(ci =>
        (ci.zip(c.chunks).map { case (a, w) => a * w }, c.chunks))
      case Some(ic) => grid(c.shape, c.chunks).flatMap { ci =>
        grid(c.chunks, ic).map(gi =>
          (ci.indices.map(k => ci(k) * c.chunks(k) + gi(k) * ic(k)), ic))
      }
    }
    boxes.flatMap { case (origin, box) =>
      boxElems(c.shape, origin, box).map { case (g, _) =>
        val coords = (0 until 4).map(k => if (k < c.shape.size) (g / gs(k)) % c.shape(k) else 0L)
        (g, coords, whole(g.toInt))
      }
    }
  }

  /** The whole-array reader's values for `c`, in the mount's row order. */
  private def wantOf(c: Case): Seq[(Long, Seq[Long], Double)] = {
    val f = storeOf(c).toFile
    expected(c, (if (c.v3) Zarr3.readArray(f, c.name) else Zarr.readArray(f, c.name))._2)
  }

  private def same(a: Double, b: Double): Boolean =
    java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b)

  private def load(c: Case) = spark.read.format(Fmt)
    .option("path", storeOf(c).toString).option("partitions", "3").load()
    .where(col("dataset") === c.name)

  test("generated stores: the whole-array readers return the written values") {
    cases.foreach { c =>
      val f = storeOf(c).toFile
      val (shape, whole) = if (c.v3) Zarr3.readArray(f, c.name) else Zarr.readArray(f, c.name)
      assert(shape == c.shape, c.label)
      whole.indices.foreach(i => assert(same(whole(i), c.expect(i)),
        s"${c.label}: element $i read ${whole(i)}, wrote ${c.expect(i)}"))
    }
    // the generator covers what the spec claims it covers
    assert(cases.map(_.shape.size).toSet == Set(1, 2, 3, 4))
    assert(cases.exists(c => c.shape.zip(c.chunks).exists { case (s, w) => s % w != 0 }))
    assert(Seq("v2 chunk", "v3 chunk", "v3 shard", "v3 inner").forall(holes(_) > 0), holes)
    assert(cases.count(_.inner.isDefined) == V3Dtypes.size)
  }

  test("the columnar read equals the whole-array read row for row, in order") {
    cases.foreach { c =>
      val want = wantOf(c)
      val rows = load(c).collect()
      assert(rows.length == want.length, c.label)
      rows.zip(want).zipWithIndex.foreach { case ((r, (g, coords, v)), i) =>
        assert(r.getString(0) == storeOf(c).toString && r.getString(1) == c.name, c.label)
        assert(r.getLong(2) == g, s"${c.label}: row $i idx ${r.getLong(2)}, want $g")
        assert(same(r.getDouble(3), v), s"${c.label}: row $i value ${r.getDouble(3)}, want $v")
        assert((4 until 8).map(r.getLong) == coords, s"${c.label}: row $i coords")
      }
    }
  }

  test("projections: without value, value only, and every dK") {
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

  test("idx and dK pushdown keep the residual rows, in order") {
    val rnd = new scala.util.Random(7L)
    cases.foreach { c =>
      val want = wantOf(c)
      val n = c.shape.product
      val (lo, hi) = { val a = rnd.nextInt(n); (a.toLong, (a + rnd.nextInt(n - a)).toLong) }
      val k = rnd.nextInt(c.shape.size)
      val (dlo, dhi) = {
        val a = rnd.nextInt(c.shape(k)); (a.toLong, (a + rnd.nextInt(c.shape(k) - a)).toLong)
      }
      def key(r: Row): (Long, Double) = (r.getLong(0), r.getDouble(1))
      def check(df: org.apache.spark.sql.DataFrame, keep: ((Long, Seq[Long], Double)) => Boolean,
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
