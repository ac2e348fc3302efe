package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Pure-JVM codec for the NetCDF classic binary format (CDF-1, CDF-2,
  * and CDF-5 64-bit-data with the extended integer types,
  * the fully public format every `*.nc` file of the reference's LES /
  * ERA5 sources uses before netCDF-4/HDF5). No external jars: the format
  * is a flat big-endian header (dims, global attrs, variables) followed
  * by row-major data slabs, with record (unlimited-dimension) variables
  * interleaved per record.
  *
  * Reference semantics served by this codec:
  *  - `XArrayTarget.open` (utils/luigi.py:29-47): open a dataset, pick
  *    the single data variable.
  *  - `FindLESFiles` (sources/les.py:22-117): read the `time` coordinate
  *    and split multi-timestep files into per-timestep scenes.
  *  - netCDF *export* of aux grids (pipeline/embeddings/aux_fields/
  *    utils.py:43-68) via [[NetCDF3.write]].
  *
  * Scale note: per-file parallelism ([[NetCDFIngest]]) matches the
  * reference, where each file is one luigi task. For CONSOLIDATED
  * multi-record stores (one file concatenated along the unlimited
  * dimension), record offsets are closed-form (begin + r·stride), so
  * [[NetCDF3ChunkIngest]] fans records out across tasks from a
  * header-only parse — the HDF5ChunkIngest pattern; a file is no
  * longer the parallelism floor.
  */
object NetCDF3 {

  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6
  // CDF-5 (pnetcdf 64-bit data) extended types
  val NcUByte = 7; val NcUShort = 8; val NcUInt = 9
  val NcInt64 = 10; val NcUInt64 = 11

  final case class Dim(name: String, length: Int) {
    def isRecord: Boolean = length == 0
  }
  /** Attribute value is a String (NC_CHAR) or an Array of a numeric type. */
  final case class Attr(name: String, ncType: Int, value: Any)
  final case class Variable(
      name: String, dimIds: Seq[Int], attrs: Seq[Attr],
      ncType: Int, vsize: Long, begin: Long)
  final case class Header(
      version: Int, numRecs: Int, dims: Seq[Dim],
      gattrs: Seq[Attr], vars: Seq[Variable])

  def typeSize(t: Int): Int = t match {
    case NcByte | NcChar | NcUByte => 1
    case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case other => throw new IllegalArgumentException(s"unsupported nc_type $other")
  }

  private def pad4(n: Long): Long = (n + 3) & ~3L

  // ---------------------------------------------------------------------
  // Reader
  // ---------------------------------------------------------------------

  /** One NON_NEG field: 4 bytes in CDF-1/2, 8 in CDF-5. */
  private def nonNeg(b: ByteBuffer, wide: Boolean): Long =
    if (wide) b.getLong() else b.getInt().toLong

  private def asInt(v: Long, what: String): Int = {
    require(v >= 0 && v <= Int.MaxValue, s"$what $v out of supported range")
    v.toInt
  }

  private def readName(b: ByteBuffer, wide: Boolean): String = {
    val n = asInt(nonNeg(b, wide), "name length")
    val bytes = new Array[Byte](n)
    b.get(bytes)
    b.position(b.position() + (pad4(n) - n).toInt)
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def readAttrValues(b: ByteBuffer, ncType: Int, n: Int): Any = {
    val res: Any = ncType match {
      case NcChar =>
        val bytes = new Array[Byte](n); b.get(bytes)
        new String(bytes, StandardCharsets.UTF_8)
      case NcByte => val a = new Array[Byte](n); b.get(a); a
      case NcShort => Array.fill(n)(b.getShort())
      case NcInt => Array.fill(n)(b.getInt())
      case NcFloat => Array.fill(n)(b.getFloat())
      case NcDouble => Array.fill(n)(b.getDouble())
      case NcUByte => Array.fill(n)((b.get() & 0xff).toShort)
      case NcUShort => Array.fill(n)(b.getShort() & 0xffff)
      case NcUInt => Array.fill(n)(b.getInt() & 0xffffffffL)
      // uint64 attrs keep the raw bits in a Long (magnitudes above
      // 2^63 are not representable; CF pack attrs never go there)
      case NcInt64 | NcUInt64 => Array.fill(n)(b.getLong())
    }
    val used = n.toLong * typeSize(ncType)
    b.position(b.position() + (pad4(used) - used).toInt)
    res
  }

  private def readAttrList(b: ByteBuffer, wide: Boolean): Seq[Attr] = {
    val tag = b.getInt(); val n = asInt(nonNeg(b, wide), "attr count")
    require(tag == 0x0C || (tag == 0 && n == 0), s"bad att_list tag $tag")
    (0 until n).map { _ =>
      val name = readName(b, wide)
      val t = b.getInt(); val nelems = asInt(nonNeg(b, wide), "attr nelems")
      Attr(name, t, readAttrValues(b, t, nelems))
    }
  }

  def readHeader(bytes: Array[Byte]): Header = {
    val b = ByteBuffer.wrap(bytes) // big-endian by default
    require(!(bytes.length >= 4 && bytes(0) == 0x89.toByte && bytes(1) == 'H'
        && bytes(2) == 'D' && bytes(3) == 'F'),
      "netCDF-4/HDF5 file detected: decode with graft.sources.HDF5.read " +
        "(contiguous uncompressed subset) instead of the classic reader")
    require(b.get() == 'C' && b.get() == 'D' && b.get() == 'F', "not a NetCDF classic file")
    val version = b.get().toInt
    // 1 = classic, 2 = 64-bit OFFSET, 5 = 64-bit DATA (pnetcdf CDF-5:
    // every NON_NEG field widens to 8 bytes and the extended integer
    // types appear); 3/4 never existed on disk
    require(version == 1 || version == 2 || version == 5,
      s"unsupported CDF version $version (netCDF-4/HDF5 needs the HDF path)")
    val wide = version == 5
    val numRecsRaw = nonNeg(b, wide)
    require(numRecsRaw != -1L, // 0xFFFF... in either width reads as -1
      "STREAMING numrecs unsupported (record count must be materialized)")
    val numRecs = asInt(numRecsRaw, "numrecs")
    val dimTag = b.getInt(); val nDims = asInt(nonNeg(b, wide), "dim count")
    require(dimTag == 0x0A || (dimTag == 0 && nDims == 0), s"bad dim_list tag $dimTag")
    val dims = (0 until nDims).map(_ =>
      Dim(readName(b, wide), asInt(nonNeg(b, wide), "dim length")))
    val gattrs = readAttrList(b, wide)
    val varTag = b.getInt(); val nVars = asInt(nonNeg(b, wide), "var count")
    require(varTag == 0x0B || (varTag == 0 && nVars == 0), s"bad var_list tag $varTag")
    val vars = (0 until nVars).map { _ =>
      val name = readName(b, wide)
      val nd = asInt(nonNeg(b, wide), "var rank")
      val dimIds = (0 until nd).map(_ => asInt(nonNeg(b, wide), "dim id"))
      val attrs = readAttrList(b, wide)
      val t = b.getInt()
      val vsize = if (wide) b.getLong() else b.getInt().toLong & 0xFFFFFFFFL
      val begin = if (version == 1) b.getInt().toLong & 0xFFFFFFFFL else b.getLong()
      Variable(name, dimIds, attrs, t, vsize, begin)
    }
    Header(version, numRecs, dims, gattrs, vars)
  }

  /** Shape of a variable (record dim resolved to numRecs). */
  def shapeOf(h: Header, v: Variable): Seq[Int] =
    v.dimIds.map { id =>
      val d = h.dims(id); if (d.isRecord) h.numRecs else d.length
    }

  private def isRecordVar(h: Header, v: Variable): Boolean =
    v.dimIds.headOption.exists(h.dims(_).isRecord)

  /** Total per-record stride in bytes. Special case per the format spec:
    * with exactly one record variable, records are NOT 4-byte padded. */
  private def recordStride(h: Header): Long = {
    val recVars = h.vars.filter(isRecordVar(h, _))
    if (recVars.size == 1) {
      val v = recVars.head
      v.dimIds.drop(1).map(h.dims(_).length.toLong).product * typeSize(v.ncType)
    } else recVars.map(_.vsize).sum
  }

  /** Public record stride for chunk-parallel ingest
    * ([[NetCDF3ChunkIngest]]): record offsets are closed-form. */
  def recordStrideOf(h: Header): Long = recordStride(h)

  /** Decode the `n` big-endian elements at byte `at` of `raw` into
    * `out` from `outOff` — the positioned-read path of
    * [[NetCDF3ChunkIngest]]. */
  def decodeSlabInto(raw: Array[Byte], at: Int, ncType: Int, n: Int,
      out: Array[Double], outOff: Int): Unit =
    readSlab(ByteBuffer.wrap(raw), at.toLong, n, ncType, out, outOff)

  private def readSlab(b: ByteBuffer, at: Long, n: Int, ncType: Int, out: Array[Double], outOff: Int): Unit = {
    b.position(at.toInt)
    var i = 0
    while (i < n) {
      out(outOff + i) = ncType match {
        case NcByte | NcChar => b.get().toDouble
        case NcShort => b.getShort().toDouble
        case NcInt => b.getInt().toDouble
        case NcFloat => b.getFloat().toDouble
        case NcDouble => b.getDouble()
        case NcUByte => (b.get() & 0xff).toDouble
        case NcUShort => (b.getShort() & 0xffff).toDouble
        case NcUInt => (b.getInt() & 0xffffffffL).toDouble
        case NcInt64 => b.getLong().toDouble
        case NcUInt64 =>
          val v = b.getLong()
          // unsigned magnitude above 2^63: split the top bit so the
          // Double keeps the unsigned value (same policy as HDF5 u64)
          if (v >= 0) v.toDouble
          else (v & Long.MaxValue).toDouble + 9.223372036854775808e18
      }
      i += 1
    }
  }

  /** All values of a variable, promoted to Double, in row-major order
    * (record dimension outermost, matching the on-disk record layout). */
  def readValues(bytes: Array[Byte], h: Header, v: Variable): Array[Double] = {
    val b = ByteBuffer.wrap(bytes)
    val shape = shapeOf(h, v)
    val total = shape.map(_.toLong).product
    require(total <= Int.MaxValue, s"variable ${v.name} too large for one decode")
    val out = new Array[Double](total.toInt)
    if (!isRecordVar(h, v)) {
      readSlab(b, v.begin, total.toInt, v.ncType, out, 0)
    } else {
      val perRec = shape.drop(1).map(_.toLong).product.toInt
      val stride = recordStride(h)
      var r = 0
      while (r < h.numRecs) {
        readSlab(b, v.begin + r * stride, perRec, v.ncType, out, r * perRec)
        r += 1
      }
    }
    out
  }

  def readValues(bytes: Array[Byte], varName: String): (Seq[String], Seq[Int], Array[Double]) = {
    val h = readHeader(bytes)
    val v = h.vars.find(_.name == varName).getOrElse(
      throw new IllegalArgumentException(
        s"Requested variable `$varName` not found in datafile"))
    (v.dimIds.map(h.dims(_).name), shapeOf(h, v), readValues(bytes, h, v))
  }

  // ---------------------------------------------------------------------
  // Writer
  // ---------------------------------------------------------------------

  /** In-memory variable for writing: data row-major, Double-typed (cast
    * to `ncType` on write). `dimNames` resolve against `dims` below. */
  final case class VarSpec(
      name: String, dimNames: Seq[String], ncType: Int,
      attrs: Seq[Attr] = Nil, data: Array[Double] = Array.empty)

  private def putNonNeg(b: ByteBuffer, v: Long, wide: Boolean): Unit =
    if (wide) b.putLong(v) else b.putInt(v.toInt)

  private def nonNegLen(wide: Boolean): Int = if (wide) 8 else 4

  private def writeName(out: java.io.ByteArrayOutputStream, s: String,
      wide: Boolean): Unit = {
    val bytes = s.getBytes(StandardCharsets.UTF_8)
    val b = ByteBuffer.allocate(nonNegLen(wide) + pad4(bytes.length).toInt)
    putNonNeg(b, bytes.length.toLong, wide); b.put(bytes)
    out.write(b.array())
  }

  private def writeAttrList(out: java.io.ByteArrayOutputStream, attrs: Seq[Attr],
      wide: Boolean): Unit = {
    val b0 = ByteBuffer.allocate(4 + nonNegLen(wide))
    b0.putInt(if (attrs.isEmpty) 0 else 0x0C)
    putNonNeg(b0, attrs.size.toLong, wide)
    out.write(b0.array())
    attrs.foreach { a =>
      writeName(out, a.name, wide)
      // Encode by a.ncType, NOT the payload's runtime class: the reader
      // widens unsigned attrs (NcUByte -> Array[Short], NcUShort ->
      // Array[Int], NcUInt -> Array[Long]), so class-directed encoding
      // would emit a payload whose byte length disagrees with
      // nelems * typeSize(ncType) — a header the reader cannot parse.
      // Values are masked to the declared width on the way out.
      def longs: Array[Long] = a.value match {
        case xs: Array[Byte] => xs.map(_.toLong)
        case xs: Array[Short] => xs.map(_.toLong)
        case xs: Array[Int] => xs.map(_.toLong)
        case xs: Array[Long] => xs
        case other => throw new IllegalArgumentException(
          s"attr ${a.name}: nc_type ${a.ncType} needs an integer payload, got ${other.getClass}")
      }
      def doubles: Array[Double] = a.value match {
        case xs: Array[Float] => xs.map(_.toDouble)
        case xs: Array[Double] => xs
        case _ => longs.map(_.toDouble)
      }
      val (nelems, payload) = a.ncType match {
        case NcChar =>
          val bytes = a.value match {
            case s: String => s.getBytes(StandardCharsets.UTF_8)
            case xs: Array[Byte] => xs
            case other => throw new IllegalArgumentException(
              s"attr ${a.name}: NC_CHAR needs a String payload, got ${other.getClass}")
          }
          (bytes.length, bytes)
        case NcByte | NcUByte =>
          val xs = longs
          (xs.length, xs.map(v => (v & 0xffL).toByte))
        case NcShort | NcUShort =>
          val xs = longs; val b = ByteBuffer.allocate(xs.length * 2)
          xs.foreach(v => b.putShort((v & 0xffffL).toShort)); (xs.length, b.array())
        case NcInt | NcUInt =>
          val xs = longs; val b = ByteBuffer.allocate(xs.length * 4)
          xs.foreach(v => b.putInt((v & 0xffffffffL).toInt)); (xs.length, b.array())
        case NcInt64 | NcUInt64 =>
          val xs = longs; val b = ByteBuffer.allocate(xs.length * 8)
          xs.foreach(b.putLong); (xs.length, b.array())
        case NcFloat =>
          val xs = doubles; val b = ByteBuffer.allocate(xs.length * 4)
          xs.foreach(v => b.putFloat(v.toFloat)); (xs.length, b.array())
        case NcDouble =>
          val xs = doubles; val b = ByteBuffer.allocate(xs.length * 8)
          xs.foreach(b.putDouble); (xs.length, b.array())
        case other => throw new IllegalArgumentException(
          s"attr ${a.name}: unsupported nc_type $other")
      }
      val head = ByteBuffer.allocate(4 + nonNegLen(wide))
      head.putInt(a.ncType); putNonNeg(head, nelems.toLong, wide)
      out.write(head.array()); out.write(payload)
      (0L until (pad4(payload.length) - payload.length)).foreach(_ => out.write(0))
    }
  }

  private def putValue(b: ByteBuffer, ncType: Int, v: Double): Unit = ncType match {
    case NcByte | NcChar => b.put(v.toByte)
    case NcShort => b.putShort(v.toShort)
    case NcInt => b.putInt(v.toInt)
    case NcFloat => b.putFloat(v.toFloat)
    case NcDouble => b.putDouble(v)
    case NcUByte => b.put((v.toLong & 0xff).toByte)
    case NcUShort => b.putShort((v.toLong & 0xffff).toShort)
    case NcUInt => b.putInt((v.toLong & 0xffffffffL).toInt)
    case NcInt64 | NcUInt64 => b.putLong(v.toLong)
  }

  /** Write a classic file (CDF-1 default; version = 2 for 64-bit
    * offsets, 5 for 64-bit data + extended types). `dims` with length 0 marks the record
    * dimension (at most one, and it must be each record-var's FIRST dim);
    * `numRecs` is its realized length. */
  def write(dims: Seq[Dim], gattrs: Seq[Attr], vars: Seq[VarSpec],
      numRecs: Int = 0, version: Int = 1): Array[Byte] = {
    require(version == 1 || version == 2 || version == 5,
      s"CDF version $version unwritable (1 classic, 2 64-bit offset, 5 64-bit data)")
    val wide = version == 5
    vars.foreach(v => require(version == 5 || v.ncType <= NcDouble,
      s"variable ${v.name}: extended type ${v.ncType} needs CDF-5 (version = 5)"))
    val dimIdx = dims.map(_.name).zipWithIndex.toMap
    require(dims.count(_.isRecord) <= 1, "at most one record dimension")
    def dimIds(v: VarSpec) = v.dimNames.map(dimIdx)
    def isRec(v: VarSpec) = v.dimNames.headOption.exists(d => dims(dimIdx(d)).isRecord)
    def perRecCount(v: VarSpec): Long = {
      val tail = if (isRec(v)) v.dimNames.drop(1) else v.dimNames
      tail.map(d => dims(dimIdx(d)).length.toLong).product
    }
    def vsize(v: VarSpec): Long = pad4(perRecCount(v) * typeSize(v.ncType))

    // header with placeholder begins to learn its size, then final pass
    def headerBytes(begins: Map[String, Long]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write('C'); out.write('D'); out.write('F'); out.write(version)
      val b0 = ByteBuffer.allocate(4 + 2 * nonNegLen(wide))
      putNonNeg(b0, numRecs.toLong, wide)
      b0.putInt(if (dims.isEmpty) 0 else 0x0A)
      putNonNeg(b0, dims.size.toLong, wide)
      out.write(b0.array(), 0, b0.position())
      dims.foreach { d =>
        writeName(out, d.name, wide)
        val b = ByteBuffer.allocate(nonNegLen(wide))
        putNonNeg(b, d.length.toLong, wide); out.write(b.array())
      }
      writeAttrList(out, gattrs, wide)
      val bv = ByteBuffer.allocate(4 + nonNegLen(wide))
      bv.putInt(if (vars.isEmpty) 0 else 0x0B)
      putNonNeg(bv, vars.size.toLong, wide)
      out.write(bv.array())
      vars.foreach { v =>
        writeName(out, v.name, wide)
        val ids = dimIds(v)
        val b = ByteBuffer.allocate((1 + ids.size) * nonNegLen(wide))
        putNonNeg(b, ids.size.toLong, wide)
        ids.foreach(i => putNonNeg(b, i.toLong, wide))
        out.write(b.array())
        writeAttrList(out, v.attrs, wide)
        // nc_type (4) + vsize (NON_NEG) + begin (OFFSET: v1 4, v2/5 8)
        val t = ByteBuffer.allocate(4 + nonNegLen(wide) + (if (version == 1) 4 else 8))
        t.putInt(v.ncType)
        putNonNeg(t, vsize(v), wide)
        if (version == 1) t.putInt(begins.getOrElse(v.name, 0L).toInt)
        else t.putLong(begins.getOrElse(v.name, 0L))
        out.write(t.array())
      }
      out.toByteArray
    }

    val headerLen = headerBytes(Map.empty).length.toLong
    val (fixedVars, recVars) = vars.partition(!isRec(_))
    var off = headerLen
    val begins = scala.collection.mutable.Map[String, Long]()
    fixedVars.foreach { v => begins(v.name) = off; off += vsize(v) }
    recVars.foreach { v => begins(v.name) = off; off += vsize(v) }
    val singleRec = recVars.size == 1
    val recStride =
      if (singleRec) perRecCount(recVars.head) * typeSize(recVars.head.ncType)
      else recVars.map(vsize).sum
    val fixedEnd = headerLen + fixedVars.map(vsize).sum
    val totalLen = if (recVars.isEmpty) fixedEnd else fixedEnd + numRecs.toLong * recStride
    // The in-memory builder caps at 2 GiB regardless; CDF-1 additionally
    // stores begin/vsize as 32-bit ints — fail loudly instead of
    // silently truncating (CDF-2/CDF-5 lift the FORMAT limit).
    require(totalLen <= Int.MaxValue && off <= Int.MaxValue,
      s"netCDF-3 export of $totalLen bytes exceeds the in-memory builder limit" +
        (if (version == 1) " (and the CDF-1 2 GiB offset limit)" else ""))
    if (version == 1) vars.foreach { v => require(vsize(v) <= Int.MaxValue,
      s"variable ${v.name} vsize ${vsize(v)} overflows the CDF-1 32-bit vsize field") }
    val buf = ByteBuffer.allocate(totalLen.toInt max off.toInt)
    buf.put(headerBytes(begins.toMap))
    fixedVars.foreach { v =>
      buf.position(begins(v.name).toInt)
      val n = perRecCount(v).toInt
      var i = 0
      while (i < n) { putValue(buf, v.ncType, v.data(i)); i += 1 }
    }
    recVars.foreach { v =>
      val perRec = perRecCount(v).toInt
      require(v.data.length == perRec * numRecs,
        s"record var ${v.name}: data ${v.data.length} != $perRec*$numRecs")
      var r = 0
      while (r < numRecs) {
        buf.position((begins(v.name) + r * recStride).toInt)
        var i = 0
        while (i < perRec) { putValue(buf, v.ncType, v.data(r * perRec + i)); i += 1 }
        r += 1
      }
    }
    val res = new Array[Byte](buf.capacity())
    buf.rewind(); buf.get(res)
    res
  }
}
