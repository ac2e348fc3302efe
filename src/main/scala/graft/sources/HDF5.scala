package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal pure-JVM HDF5 codec — the netCDF-4 seam-narrower.
  *
  * The reference opens netCDF-4 (HDF5-backed) files through xarray
  * (convml_data/utils/luigi.py:29-47); NetCDF3.scala covers classic CDF-1/2
  * only. This reader implements the PUBLIC HDF5 file-format spec (HDF
  * Group, "HDF5 File Format Specification"), covering both header
  * generations:
  *
  *  - v0 superblock + v1 object headers + symbol-table groups (local heap
  *    + v1 B-tree + SNOD) — what h5py/libhdf5 write under DEFAULT file
  *    properties;
  *  - v2/v3 superblocks + v2 ("OHDR") object headers + NEW-STYLE groups,
  *    BOTH storages — COMPACT (Link Info + Link messages in the header)
  *    and DENSE (links as fractal-heap objects indexed by a name v2
  *    B-tree: FRHP header, root direct block or root indirect block with
  *    direct children, BTHD/BTLF/BTIN at ANY depth — pointer geometry
  *    per the public H5B2 node-info recurrence) — the root-group
  *    shapes real netcdf-c output takes below and above the ~8-link
  *    compact limit;
  *  - object-header CONTINUATION blocks in both generations (v1 raw
  *    message blocks, v2 "OCHK" blocks).
  *
  * Dataset storage: COMPACT (data inline in the layout message — the
  * shape libhdf5 gives tiny coordinate/scalar variables), CONTIGUOUS,
  * and CHUNKED through BOTH index
  * generations — layout v3 (v1 chunk B-tree at ANY depth) AND layout v4
  * (libver >= v110: Single Chunk, Implicit, unpaged Fixed Array,
  * Extensible Array indexes incl. EASB super blocks — the
  * one-unlimited-dimension shape every appended-time netCDF-4 series
  * takes — and the Version 2 B-tree index, record types 10/11, that
  * libhdf5 picks for >1 unlimited dims; filtered and plain) — with
  * DEFLATE, SHUFFLE and FLETCHER32 filters in any pipeline order, so
  * default `nc_def_var_deflate` + `nc_def_var_fletcher32` files decode
  * in either generation (checksums are VERIFIED per chunk, corrupt
  * chunks reject loudly). Superblocks v0/v1 (legacy) and v2/v3 (latest)
  * all parse. Fixed AND
  * extensible arrays decode PAGED or unpaged (paged EA data blocks —
  * the shape a long-running appended time series grows into — store
  * prefix + contiguous checksummed pages, with the page-init bitmap in
  * the super block). Fixed/float data decodes in either
  * byte order (bit 0 of the datatype class bit field; big-endian is
  * the legacy big-iron shape). Fractal-heap offsets resolve through
  * INDIRECT CHILD blocks recursively, so dense groups read past the
  * direct rows; HUGE heap objects (links past the max managed size)
  * resolve directly or through the huge-object v2 B-tree, and TINY
  * objects decode from the heap ID itself. SZIP chunks decode through
  * a pure-JVM CCSDS 121 extended-Rice decoder ([[Szip]]), including
  * padded-tail blocks (short scanlines encode whole blocks; pads are
  * decoded and discarded). NBIT and SCALE-OFFSET filtered chunks
  * decode ([[denbit]]/[[descaleoffset]]). FILTERED fractal-heap
  * direct blocks decode (whole-image defilter, root-direct and
  * widened indirect entries), EXTENDED tiny heap ids (id length
  * > 18, 12-bit length) resolve, and filtered HUGE objects decode
  * through type-2 B-tree records or widened direct ids. The residual
  * rejects are corrupt/lying structures — all loud, never silently
  * misread.
  *
  * The writers ([[write]] emits the v0 generation, [[writeLatest]] the
  * v2/OHDR generation incl. continuation blocks and shuffle) emit the
  * same subset the reader decodes, so every decode path is provable
  * without external fixtures — the NetCDF3/HDF4 strategy. Checksums in
  * v2 structures are written as zero and skipped on read (libhdf5
  * verifies them; this codec does not claim to).
  */
object HDF5 {

  val Undef: Long = -1L // 0xFFFFFFFFFFFFFFFF

  final case class H5Dataset(name: String, dims: Seq[Long], data: Array[Double])

  /** One filter-pipeline entry: id (1 deflate, 2 shuffle, 3 fletcher32,
    * 4 szip) plus its client-data words — szip needs them to decode. */
  final case class H5Filter(id: Int, cd: Seq[Int])

  /** One attribute's decoded value. Numeric, string, and reference
    * payloads decode; anything else (compound REFERENCE_LIST, enums,
    * shared datatypes) surfaces as [[H5AttrValue.Unsupported]] rather
    * than failing the walk — netCDF-4 files routinely carry attrs the
    * engine has no use for, and skipping one must not hide the rest. */
  sealed trait H5AttrValue
  object H5AttrValue {
    final case class Ints(v: Seq[Long]) extends H5AttrValue
    final case class Nums(v: Seq[Double]) extends H5AttrValue
    final case class Strs(v: Seq[String]) extends H5AttrValue
    /** Object references: referenced object-header addresses. */
    final case class Refs(v: Seq[Long]) extends H5AttrValue
    /** Vlen-of-object-reference — the netCDF-4 `DIMENSION_LIST` shape:
      * one (possibly empty) reference list per array axis. */
    final case class RefLists(v: Seq[Seq[Long]]) extends H5AttrValue
    final case class Unsupported(reason: String) extends H5AttrValue
  }
  final case class H5Attr(name: String, value: H5AttrValue) {
    /** First element as a Double — the CF-attribute accessor
      * (scale_factor / add_offset / _FillValue are 1-element arrays). */
    def num: Option[Double] = value match {
      case H5AttrValue.Nums(v) => v.headOption
      case H5AttrValue.Ints(v) => v.headOption.map(_.toDouble)
      case _ => None
    }
    def str: Option[String] = value match {
      case H5AttrValue.Strs(v) => v.headOption
      case _ => None
    }
  }

  /** Extensible-array creation parameters (defaults = what libhdf5
    * uses for chunked-dataset indexes) and the derived super-block-row
    * geometry, shared by reader and writer. Row u of the conceptual
    * super-block table holds 2^(u/2) data blocks of
    * 2^((u+1)/2)*minElmts elements each; the first `iblkNsblks` rows'
    * data blocks are addressed directly from the index block, later
    * rows through on-disk super blocks. */
  final case class EaParams(maxBits: Int = 32, iblkElmts: Int = 4,
      minPtrs: Int = 4, minElmts: Int = 16, pageBits: Int = 10) {
    private def log2(x: Int): Int = 31 - Integer.numberOfLeadingZeros(x)
    val nsblks: Int = 2 * (maxBits - log2(minElmts))
    val iblkNsblks: Int = log2(minPtrs) + 1
    val iblkNdblkAddrs: Int = 2 * log2(minPtrs)
    val iblkNsblkAddrs: Int = nsblks - iblkNsblks
    val offSize: Int = (maxBits + 7) / 8 // width of block-offset fields
    def rowNdblks(u: Int): Int = 1 << (u / 2)
    def rowDblkNelmts(u: Int): Int = (1 << ((u + 1) / 2)) * minElmts
    def rowStartIdx(u: Int): Long =
      (0 until u).map(v => rowNdblks(v).toLong * rowDblkNelmts(v)).sum
    def rowStartDblk(u: Int): Int = (0 until u).map(rowNdblks).sum
    /** Paged-data-block geometry: a data block whose element count
      * exceeds one page (2^pageBits elements) stores only its prefix +
      * checksum; the pages follow contiguously, each page = elements +
      * its own 4-byte checksum. The row's SUPER block then carries a
      * page-init bitmap (one bit per page across its data blocks). */
    def pageNelmts: Int = 1 << pageBits
    def dblkPaged(u: Int): Boolean = rowDblkNelmts(u) > pageNelmts
    def dblkNpages(u: Int): Int = (rowDblkNelmts(u) + pageNelmts - 1) / pageNelmts
    /** On-disk bytes of a row-u data block (14 = sig+ver+client+hdraddr,
      * es = chunk-info element width). */
    def dblkDiskSize(u: Int, es: Int): Int =
      if (!dblkPaged(u)) 14 + offSize + rowDblkNelmts(u) * es + 4
      else 14 + offSize + 4 + dblkNpages(u) * (pageNelmts * es + 4)
    /** On-disk bytes of the row-u super block (bitmap only when its data
      * blocks are paged). */
    def sblkDiskSize(u: Int): Int =
      14 + offSize +
        (if (dblkPaged(u)) (rowNdblks(u) * dblkNpages(u) + 7) / 8 else 0) +
        rowNdblks(u) * 8 + 4
    /** (row, data block within row, element within block) for an element
      * index counted from the first element beyond the index block. */
    def locate(idxBeyond: Long): (Int, Int, Int) = {
      var u = 0
      while (rowStartIdx(u) + rowNdblks(u).toLong * rowDblkNelmts(u) <= idxBeyond) u += 1
      val rel = idxBeyond - rowStartIdx(u)
      ((u, (rel / rowDblkNelmts(u)).toInt, (rel % rowDblkNelmts(u)).toInt))
    }
  }

  private val Signature = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')

  // ---------------------------------------------------------------- reader

  /** Read every dataset reachable from the root group (whole-file image
    * in memory — the binaryFile per-granule ingest path). */
  def read(bytes: Array[Byte]): Seq[H5Dataset] = read(new ArrayInput(bytes))

  /** Read every dataset reachable from the root group. */
  def read(in: H5Input): Seq[H5Dataset] =
    rootDatasets(in).map { case (name, addr) => parseDataset(in, name, addr) }

  // ------------------------------------- phase-1 chunk-manifest surface

  /** Dataset shape/dtype/filters — everything a task needs to decode one
    * stored chunk of it without re-reading any file metadata. */
  final case class H5Var(name: String, dims: Seq[Long], chunkDims: Seq[Int],
      dtClass: Int, dtSize: Int, bigEndian: Boolean, filters: Seq[H5Filter],
      signedInt: Boolean = true)

  /** One stored chunk: grid origin (element coords), absolute file
    * offset and stored (possibly filtered) byte count. */
  final case class H5ChunkRef(origin: Seq[Long], offset: Long, nbytes: Long)

  /** Phase-1 metadata parse: every root dataset's [[H5Var]] plus its
    * full chunk map, WITHOUT touching any chunk payload bytes. Over a
    * [[PagedFileInput]] this fetches only the pages metadata lives on
    * (asserted in HDF5ChunkIngestSpec), so the manifest of a
    * consolidated netCDF-4 store far bigger than one task — or than a
    * 2 GB array — is a cheap driver-side operation; decode then fans
    * out per chunk ([[HDF5ChunkIngest]]). Contiguous and compact
    * datasets manifest as a single full-extent chunk. Only the datasets
    * `wanted` names have their object header and chunk index read. */
  def manifest(in: H5Input, wanted: String => Boolean = _ => true)
      : Seq[(H5Var, Seq[H5ChunkRef])] =
    rootDatasets(in).filter { case (name, _) => wanted(name) }.map { case (name, addr) =>
      val h = parseHeader(in, name, addr)
      val refs = Seq.newBuilder[H5ChunkRef]
      forEachChunk(in, h)((origin, off, n) => refs += H5ChunkRef(origin, off, n))
      (H5Var(name, h.dims, h.effChunkDims, h.dtClass, h.dtSize, h.bigEndian,
          h.filters, h.dtSigned),
        refs.result())
    }

  /** Decode ONE stored chunk: inverse filters (reverse pipeline order),
    * then its elements over the full chunk extent in C order (pad
    * included) in one primitive loop, the element type (class, size,
    * sign, endian) resolved once per chunk. A pure function of the
    * chunk bytes + manifest row — no file metadata — so it runs
    * executor-side with only a positioned byte-range read. */
  def chunkValues(raw: Array[Byte], v: H5Var): Array[Double] = {
    val chunkBytes = defilter(v.name, raw, v.filters, v.dtSize, v.signedInt)
    val n = v.chunkDims.product
    require(chunkBytes.length == n * v.dtSize,
      s"dataset ${v.name}: chunk decodes to ${chunkBytes.length} bytes, " +
        s"expected ${n * v.dtSize}")
    val bb = ByteBuffer.wrap(chunkBytes).order(
      if (v.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Double](n)
    var i = 0
    (v.dtClass, v.dtSize) match {
      case (1, 8) => bb.asDoubleBuffer().get(out)
      case (1, 4) =>
        val b = bb.asFloatBuffer(); while (i < n) { out(i) = b.get(i); i += 1 }
      case (0, 1) => // the netCDF-classic byte type (packed data)
        if (v.signedInt) while (i < n) { out(i) = chunkBytes(i); i += 1 }
        else while (i < n) { out(i) = chunkBytes(i) & 0xff; i += 1 }
      case (0, 2) => // int16 — THE CF packed-variable type
        val b = bb.asShortBuffer()
        if (v.signedInt) while (i < n) { out(i) = b.get(i); i += 1 }
        else while (i < n) { out(i) = b.get(i) & 0xffff; i += 1 }
      case (0, 4) =>
        val b = bb.asIntBuffer()
        if (v.signedInt) while (i < n) { out(i) = b.get(i); i += 1 }
        else while (i < n) { out(i) = (b.get(i) & 0xffffffffL).toDouble; i += 1 }
      case (0, 8) =>
        val b = bb.asLongBuffer()
        while (i < n) {
          val x = b.get(i)
          out(i) =
            if (v.signedInt || x >= 0) x.toDouble
            // unsigned with the top bit set: split off 2^63 so the Double
            // carries the unsigned magnitude
            else (x & Long.MaxValue).toDouble + 9.223372036854775808e18
          i += 1
        }
      case other => throw new IllegalArgumentException(
        s"dataset ${v.name}: unsupported type class/size $other")
    }
    out
  }

  /** [[chunkValues]] as (global row-major linear index, value) pairs,
    * ragged-edge positions clipped. */
  def decodeChunk(raw: Array[Byte], v: H5Var, origin: Seq[Long]): Iterator[(Long, Double)] = {
    val values = chunkValues(raw, v)
    chunkPositions(v, origin).map { case (gi, ci) => (gi, values(ci)) }
  }

  /** (global row-major index, chunk-local element index) for every
    * in-bounds position of the chunk at `origin`. */
  private def chunkPositions(v: H5Var, origin: Seq[Long]): Iterator[(Long, Int)] = {
    val nd = v.dims.size
    val strides = new Array[Long](nd)
    var acc = 1L
    for (k <- (nd - 1) to 0 by -1) { strides(k) = acc; acc *= v.dims(k) }
    (0 until v.chunkDims.product).iterator.flatMap { ci =>
      var rem = ci; var inBounds = true; var globalIdx = 0L
      var k = nd - 1
      while (k >= 0) {
        val local = rem % v.chunkDims(k)
        rem /= v.chunkDims(k)
        val g = origin(k) + local
        if (g >= v.dims(k)) inBounds = false
        globalIdx += g * strides(k)
        k -= 1
      }
      if (inBounds) Iterator.single((globalIdx, ci)) else Iterator.empty
    }
  }

  private def elemAt(bb: ByteBuffer, name: String, dtClass: Int, dtSize: Int,
      signedInt: Boolean, i: Int): Double =
    (dtClass, dtSize) match {
      case (1, 8) => bb.getDouble(i * 8)
      case (1, 4) => bb.getFloat(i * 4).toDouble
      case (0, 1) => // the netCDF-classic byte type (packed data)
        if (signedInt) bb.get(i).toDouble else (bb.get(i) & 0xff).toDouble
      case (0, 2) => // int16 — THE CF packed-variable type
        if (signedInt) bb.getShort(i * 2).toDouble
        else (bb.getShort(i * 2) & 0xffff).toDouble
      case (0, 4) =>
        if (signedInt) bb.getInt(i * 4).toDouble
        else (bb.getInt(i * 4) & 0xffffffffL).toDouble
      case (0, 8) =>
        val v = bb.getLong(i * 8)
        if (signedInt || v >= 0) v.toDouble
        // unsigned with the top bit set: split off 2^63 so the Double
        // carries the unsigned magnitude (above 2^53 precision is lossy
        // either way, but the sign must not flip)
        else (v & Long.MaxValue).toDouble + 9.223372036854775808e18
      case other => throw new IllegalArgumentException(
        s"dataset $name: unsupported type class/size $other")
    }

  // ------------------------------------------------- superblock + root

  private def rootHeaderAddr(in: H5Input): Long = {
    require(in.length >= 48 && Signature.indices.forall(i => in.byteAt(i.toLong) == Signature(i)),
      "not an HDF5 file (bad signature)")
    val sbVersion = in.byteAt(8)
    sbVersion match {
      case 0 | 1 =>
        val sb = in.cursor(9)
        sb.get(); sb.get(); sb.get() // freespace, root symtab, reserved
        sb.get() // shared header message version
        val sizeOffsets = sb.get()
        val sizeLengths = sb.get()
        require(sizeOffsets == 8 && sizeLengths == 8,
          s"only 8-byte offsets/lengths supported (got $sizeOffsets/$sizeLengths)")
        sb.get() // reserved
        sb.getShort(); sb.getShort(); sb.getInt() // group k's, flags
        // v1 (written by 1.4-era libhdf5 when the indexed-storage B-tree
        // K was tuned) inserts that K + 2 reserved bytes before the
        // addresses; everything else matches v0
        if (sbVersion == 1) { sb.getShort(); sb.getShort() }
        val baseAddr = sb.getLong()
        require(baseAddr == 0, s"nonzero base address $baseAddr unsupported")
        sb.getLong(); sb.getLong(); sb.getLong() // freespace, eof, driver
        // root group symbol table entry
        sb.getLong() // link name offset
        sb.getLong() // root object header address
      case 2 | 3 =>
        val sb = in.cursor(9)
        val sizeOffsets = sb.get()
        val sizeLengths = sb.get()
        require(sizeOffsets == 8 && sizeLengths == 8,
          s"only 8-byte offsets/lengths supported (got $sizeOffsets/$sizeLengths)")
        sb.get() // file consistency flags
        val baseAddr = sb.getLong()
        require(baseAddr == 0, s"nonzero base address $baseAddr unsupported")
        sb.getLong() // superblock extension address
        sb.getLong() // end of file address
        sb.getLong() // root object header address (checksum follows, skipped)
      case v => throw new IllegalArgumentException(
        s"superblock version $v unsupported (v0/v1 legacy and v2/v3 latest only)")
    }
  }

  /** Every dataset reachable from the root, named by GROUP PATH
    * ("model/deep/t2m" — the zarr mount's addressing, and what xarray
    * shows for netCDF-4 group members). */
  private def rootDatasets(in: H5Input): Seq[(String, Long)] =
    walkEntries(in).collect { case (path, addr, false) => (path, addr) }

  /** (path, object header addr, isGroup) of every object under the
    * root, breadth-first. Groups are recognized by their messages
    * (symbol table 0x0011, link info 0x0002, or link messages with no
    * dataspace); hard-link cycles fail loudly rather than loop. */
  private[sources] def walkEntries(in: H5Input): Seq[(String, Long, Boolean)] = {
    val out = Seq.newBuilder[(String, Long, Boolean)]
    val root = rootHeaderAddr(in)
    val seen = scala.collection.mutable.Set[Long](root)
    val queue = scala.collection.mutable.Queue[(String, Long)](("", root))
    while (queue.nonEmpty) {
      val (prefix, addr) = queue.dequeue()
      rootEntries(in, addr).foreach { case (name, childAddr) =>
        val path = if (prefix.isEmpty) name else s"$prefix/$name"
        val msgs = foldMessages(in, childAddr)
        val isGroup = msgs.exists(m => m._1 == 0x0011 || m._1 == 0x0002) ||
          (msgs.exists(_._1 == 0x0006) && !msgs.exists(_._1 == 0x0001))
        out += ((path, childAddr, isGroup))
        if (isGroup) {
          if (!seen.add(childAddr))
            throw new IllegalArgumentException(
              s"group cycle: '$path' revisits the object header at $childAddr")
          queue.enqueue((path, childAddr))
        }
      }
    }
    out.result()
  }

  /** Root group members as (name, object header addr) — from the symbol
    * table message (old-style groups) or from compact Link messages
    * (new-style groups, the netCDF-4 root shape). */
  private def rootEntries(in: H5Input, addr: Long): Seq[(String, Long)] = {
    val msgs = foldMessages(in, addr)
    msgs.collectFirst { case (0x0011, data) => data } match {
      case Some(off) =>
        val b = in.cursor(off)
        val btreeAddr = b.getLong()
        val heapAddr = b.getLong()
        val heapDataAddr = parseHeapDataAddr(in, heapAddr)
        collectSnods(in, btreeAddr).flatMap(parseSnod(in, _, heapDataAddr))
      case None =>
        // new-style group: COMPACT (Link messages in the header) or DENSE
        // (links as fractal-heap objects indexed by a v2 B-tree — what
        // libhdf5 switches to above the compact limit, i.e. any netCDF-4
        // file with more than ~8 variables)
        val dense = msgs.collectFirst { case (0x0002, off) => off }.flatMap { off =>
          val b = in.cursor(off)
          b.get() // version
          val flags = b.get()
          if ((flags & 1) != 0) b.getLong() // max creation index
          val fheap = b.getLong()
          val nameIndex = b.getLong()
          if (fheap == Undef) None else Some(denseEntries(in, fheap, nameIndex))
        }
        dense.getOrElse {
          val links = msgs.collect { case (0x0006, off) => parseLinkMessage(in, off) }
          // a compact new-style group can be EMPTY: link info present,
          // no fractal heap, no link messages
          require(links.nonEmpty || msgs.exists(_._1 == 0x0002),
            "group object header has neither a symbol table message nor link messages")
          links
        }
    }
  }

  // ----------------------------------------- dense groups (fractal heap)

  /** min bytes to encode values up to `max` (H5VM_limit_enc_size). */
  private def encSize(max: Long): Int =
    (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, max))) / 8 + 1

  /** v2 B-tree per-level pointer geometry (the public H5B2hdr.c
    * node-info recurrence): EVERY internal pointer's "records in child
    * node" field is sized by the LEAF max record count; a pointer to a
    * depth-u >= 1 child additionally carries the subtree-total record
    * count sized by cum_max_nrec(u), where
    *   maxRec(u)  = (nodeSize - 10 - ptr(u)) / (recSize + ptr(u)),
    *   ptr(u)     = 8 + maxNrecSize + cumSize(u-1),
    *   cum(u)     = (maxRec(u) + 1) * cum(u-1) + maxRec(u).
    * This sizes pointers at ANY depth, so both v2 B-tree walks (link
    * names, dataset chunks) recurse without a depth cap. */
  private[sources] final case class Bt2Geom(maxNrecSize: Int, cumSizes: Array[Int],
      maxRecs: Array[Long], cums: Array[Long])
  private[sources] def bt2Geom(nodeSize: Int, recSize: Int, depth: Int): Bt2Geom = {
    val maxLeaf = ((nodeSize - 10) / recSize).toLong
    val maxNrecSize = encSize(maxLeaf)
    val levels = math.max(1, depth + 1)
    val cum = new Array[Long](levels)
    val cumSize = new Array[Int](levels)
    val maxRec = new Array[Long](levels)
    maxRec(0) = maxLeaf
    cum(0) = maxLeaf
    cumSize(0) = 0
    var u = 1
    while (u <= depth) {
      val ptr = 8 + maxNrecSize + cumSize(u - 1)
      maxRec(u) = ((nodeSize - 10 - ptr) / (recSize + ptr)).toLong
      cum(u) = (maxRec(u) + 1) * cum(u - 1) + maxRec(u)
      cumSize(u) = encSize(cum(u))
      u += 1
    }
    Bt2Geom(maxNrecSize, cumSize, maxRec, cum)
  }

  // ---- writer-side v2 B-tree construction (any depth) ----

  /** Uniform-depth v2 B-tree plan over record indices 0..n-1 in order:
    * leaves hold runs, internal nodes hold the promoted separators.
    * Node addresses are one `nodeSize` slab each, root first. */
  private[sources] sealed trait Bt2Node {
    def addr: Long
    def ownRecs: Vector[Int]
  }
  private[sources] final case class Bt2Leaf(addr: Long, ownRecs: Vector[Int]) extends Bt2Node
  private[sources] final case class Bt2Inner(addr: Long, ownRecs: Vector[Int],
      children: Vector[Bt2Node]) extends Bt2Node
  private[sources] def bt2TotalRecs(n: Bt2Node): Int = n match {
    case Bt2Leaf(_, r) => r.size
    case Bt2Inner(_, r, cs) => r.size + cs.map(bt2TotalRecs).sum
  }

  /** Smallest depth whose subtree capacity holds `n` records. */
  private[sources] def bt2DepthFor(nodeSize: Int, recSize: Int, n: Int): Int = {
    var d = 0
    while (bt2Geom(nodeSize, recSize, d).cums(d) < n) {
      d += 1
      require(d <= 8, s"$n records need v2 B-tree depth > 8")
    }
    d
  }

  /** Build the (depth, root, nextFreeAddr) plan for `n` records starting
    * at `firstAddr`. Split: m = ceil((k+1)/(childCap+1)) children with
    * sizes as even as possible, separators promoted — the same shape the
    * depth-1 writer emitted before this generalization. */
  private[sources] def bt2Build(nodeSize: Int, recSize: Int, n: Int,
      firstAddr: Long): (Int, Bt2Node, Long) = {
    val depth = bt2DepthFor(nodeSize, recSize, n)
    val g = bt2Geom(nodeSize, recSize, depth)
    var naddr = firstAddr
    def split(ids: Vector[Int], d: Int): Bt2Node = {
      val addr = naddr
      naddr += nodeSize
      if (d == 0) {
        require(ids.size <= g.maxRecs(0), s"leaf of ${ids.size} records over cap")
        Bt2Leaf(addr, ids)
      } else {
        val childCap = g.cums(d - 1)
        val m = ((ids.size + 1 + childCap) / (childCap + 1)).toInt // ceil((k+1)/(cap+1))
        require(m - 1 <= g.maxRecs(d),
          s"internal node needs ${m - 1} records, cap ${g.maxRecs(d)}")
        val total = ids.size - (m - 1)
        require(total >= m, s"cannot give every subtree a record ($total into $m)")
        val base = total / m
        val extra = total % m
        var rest = ids
        val children = Vector.newBuilder[Bt2Node]
        val recs = Vector.newBuilder[Int]
        (0 until m).foreach { j =>
          val take = base + (if (j < extra) 1 else 0)
          val (sub, r1) = rest.splitAt(take)
          children += split(sub, d - 1)
          rest = r1
          if (j < m - 1) { recs += rest.head; rest = rest.tail }
        }
        require(rest.isEmpty, "v2 B-tree split bookkeeping broke")
        Bt2Inner(addr, recs.result(), children.result())
      }
    }
    val root = split(Vector.range(0, n), depth)
    (depth, root, naddr)
  }

  /** Dense group link storage: enumerate every link record in the name-
    * index v2 B-tree (type 5), resolve each 7-byte heap ID into the
    * group's fractal heap (root direct block, or a root indirect block
    * with DIRECT children), and parse the stored Link messages. The
    * record's name hash is never interpreted (it only orders lookups),
    * so files hashed with lookup3 decode fine; the name index walks at
    * ANY depth (bt2Geom pointer sizing), and heap offsets resolve
    * through INDIRECT CHILD blocks recursively (a child restarts the
    * doubling table over its span). Out of scope, rejected loudly:
    * huge/tiny heap objects, filtered heap blocks. */
  private def denseEntries(in: H5Input, fheapAddr: Long,
      btreeAddr: Long): Seq[(String, Long)] =
    denseObjects(in, fheapAddr, btreeAddr, btype = 5)(parseLinkMessage)

  /** Generic dense-storage walk: every fractal-heap object reachable
    * from the name-index v2 B-tree, parsed by `parse`. btype 5 = link
    * name index (dense groups, records hash+heapId); btype 8 =
    * attribute name index (dense attributes, records heapId+flags+
    * corder+hash). The heap object is a link message (5) or an
    * attribute message body (8). */
  private def denseObjects[T](in: H5Input, fheapAddr: Long,
      btreeAddr: Long, btype: Int)(parse: (H5Input, Long) => T): Seq[T] = {
    require(btreeAddr != Undef, "dense storage without a name-index v2 B-tree")
    // ---- fractal heap header (FRHP)
    val h = in.cursor(fheapAddr)
    require((0 until 4).map(_ => h.get().toChar).mkString == "FRHP",
      "bad fractal heap signature")
    require(h.get() == 0, "FRHP version != 0")
    val heapIdLen = h.getShort() & 0xffff
    val filterLen = h.getShort() & 0xffff
    h.get() // heap flags
    h.getInt() // max size of managed objects
    h.getLong() // next huge object id
    val hugeBtAddr = h.getLong() // v2 B-tree of huge objects (record type 1)
    h.getLong(); h.getLong() // free space, free-space manager
    h.getLong(); h.getLong(); h.getLong() // managed space, allocated, iterator
    h.getLong() // number of managed objects
    h.getLong(); val nHuge = h.getLong() // huge size, count
    h.getLong(); h.getLong() // tiny size, count
    val width = h.getShort() & 0xffff
    val startBlock = h.getLong()
    val maxDirect = h.getLong()
    val maxHeapBits = h.getShort() & 0xffff
    h.getShort() // starting rows in root indirect block
    val rootBlockAddr = h.getLong()
    val curRows = h.getShort() & 0xffff
    // filtered heaps: the root direct block's stored size + mask, then
    // the pipeline (an embedded filter-message body) ride the header;
    // every stored direct-block image is compressed WHOLE (header
    // included) and block offsets address the DECOMPRESSED image
    var rootFilteredSize = 0L
    val heapFilters: Seq[H5Filter] =
      if (filterLen == 0) Nil
      else {
        rootFilteredSize = h.getLong()
        val mask = h.getInt()
        require(mask == 0,
          s"filtered fractal heap: nonzero root filter mask $mask unsupported")
        parseFilterPipeline(h, "fractal heap")
      }
    val offSize = (maxHeapBits + 7) / 8
    require(1 + offSize <= heapIdLen,
      s"heap id length $heapIdLen cannot hold a $offSize-byte offset")
    // dbHeaderLen (sig + version + heap header addr + block offset
    // [+ checksum]) positions object data within a block — the writer
    // packs objects after it; the reader only needs block-relative
    // arithmetic since heap offsets address the block INCLUDING header
    val maxDirectRows =
      (63 - java.lang.Long.numberOfLeadingZeros(maxDirect / startBlock)).toInt + 2
    def rowSize(r: Int): Long = if (r < 2) startBlock else startBlock << (r - 1)
    def checkDirect(bin: H5Input, base: Long): Unit = {
      val db = bin.cursor(base)
      require((0 until 4).map(_ => db.get().toChar).mkString == "FHDB",
        "bad fractal heap direct block signature")
    }
    // filtered direct blocks decompress whole; cache per address so the
    // per-link walk inflates each block once
    val blockCache = scala.collection.mutable.HashMap.empty[Long, ArrayInput]
    def inflatedBlock(addr: Long, storedSize: Long): ArrayInput =
      blockCache.getOrElseUpdate(addr, new ArrayInput(defilter(
        "fractal heap block", in.slice(addr, storedSize.toInt), heapFilters,
        1, signedInt = true)))

    /** heap-space offset -> (input, offset) of that byte: the file
      * itself for plain heaps, the decompressed block image for
      * filtered ones. */
    def locate(heapOff: Long): (H5Input, Long) =
      if (curRows == 0) {
        require(heapOff < startBlock, s"heap offset $heapOff beyond the root direct block")
        if (heapFilters.isEmpty) { checkDirect(in, rootBlockAddr); (in, rootBlockAddr + heapOff) }
        else {
          val bi = inflatedBlock(rootBlockAddr, rootFilteredSize)
          checkDirect(bi, 0L)
          (bi, heapOff)
        }
      } else locateIn(rootBlockAddr, heapOff)

    /** Row-walk within ONE indirect block. Entries in the direct rows
      * are direct blocks (addr, + stored size and mask when filtered);
      * entries past them are CHILD indirect blocks (addr only), each
      * spanning rowSize(r) of heap space with its own rows restarting
      * the doubling table — so the recursion is uniform and heaps nest
      * to any indirect depth. */
    def locateIn(iblockAddr: Long, relOff: Long): (H5Input, Long) = {
      var r = 0
      var base = 0L
      while (relOff >= base + width * rowSize(r)) { base += width * rowSize(r); r += 1 }
      val col = ((relOff - base) / rowSize(r)).toInt
      val ib = in.cursor(iblockAddr)
      require((0 until 4).map(_ => ib.get().toChar).mkString == "FHIB",
        "bad fractal heap indirect block signature")
      ib.get() // version
      ib.getLong() // heap header address
      (0 until offSize).foreach(_ => ib.get()) // block offset
      // direct-row entries widen to addr + stored size (L) + mask (4)
      // in filtered heaps; indirect-row entries stay a bare address
      val e = r * width + col
      val dirEntrySize = if (heapFilters.isEmpty) 8 else 20
      val nDirBefore = math.min(e.toLong, maxDirectRows.toLong * width)
      ib.position(ib.position() + nDirBefore * dirEntrySize + (e - nDirBefore) * 8)
      val child = ib.getLong()
      require(child != Undef, s"heap offset points into an unallocated block")
      val inBlk = relOff - (base + col.toLong * rowSize(r))
      if (r < maxDirectRows) {
        if (heapFilters.isEmpty) { checkDirect(in, child); (in, child + inBlk) }
        else {
          val storedSize = ib.getLong()
          val mask = ib.getInt()
          require(mask == 0,
            s"filtered fractal heap: nonzero direct-block filter mask $mask unsupported")
          val bi = inflatedBlock(child, storedSize)
          checkDirect(bi, 0L)
          (bi, inBlk)
        }
      } else locateIn(child, inBlk)
    }

    // ---- name-index v2 B-tree (BTHD; record layout depends on btype)
    val bt = in.cursor(btreeAddr)
    require((0 until 4).map(_ => bt.get().toChar).mkString == "BTHD",
      "bad v2 B-tree header signature")
    require(bt.get() == 0, "BTHD version != 0")
    val gotType = bt.get()
    require(gotType == btype, s"v2 B-tree type $gotType (expected $btype)")
    val nodeSize = bt.getInt()
    val recSize = bt.getShort() & 0xffff
    val depth = bt.getShort() & 0xffff
    bt.get(); bt.get() // split/merge percents
    val rootNodeAddr = bt.getLong()
    val rootNRec = bt.getShort() & 0xffff
    bt.getLong() // total records
    // type 5: hash(4) + heap id(recSize-4); type 8: heap id(8) +
    // message flags(1) + creation order(4) + hash(4)
    require(if (btype == 5) recSize >= 5 else recSize == 17,
      s"record size $recSize invalid for B-tree type $btype")
    val idLen = if (btype == 5) recSize - 4 else 8
    val recTail = recSize - idLen - (if (btype == 5) 4 else 0)
    val geom = bt2Geom(nodeSize, recSize, depth)

    // one record -> its heap id: type 5 leads with the name hash, type
    // 8 trails with flags + creation order + hash (ordering only)
    def readRec(nb: H5Cursor): Array[Byte] = {
      if (btype == 5) nb.getInt()
      val id = new Array[Byte](idLen)
      nb.get(id)
      (0 until recTail).foreach(_ => nb.get())
      id
    }
    def readRecordIds(addr: Long, nrec: Int, d: Int): Seq[Array[Byte]] = {
      val nb = in.cursor(addr)
      val sig = (0 until 4).map(_ => nb.get().toChar).mkString
      nb.get() // version
      nb.get() // type
      if (d == 0) {
        require(sig == "BTLF", s"expected leaf node BTLF, got $sig")
        (0 until nrec).map(_ => readRec(nb))
      } else {
        require(sig == "BTIN", s"expected internal node BTIN, got $sig")
        val recs = (0 until nrec).map(_ => readRec(nb))
        val children = (0 until nrec + 1).map { _ =>
          val a = nb.getLong()
          var cn = 0L
          (0 until geom.maxNrecSize).foreach(i => cn |= (nb.get() & 0xffL) << (8 * i))
          // subtree-total record count (present below depth-1 children;
          // recursion re-derives it, so only its width matters here)
          if (d - 1 > 0) (0 until geom.cumSizes(d - 1)).foreach(_ => nb.get())
          (a, cn.toInt)
        }
        children.zipWithIndex.flatMap { case ((ca, cn), i) =>
          val sub = readRecordIds(ca, cn, d - 1)
          if (i < recs.size) sub :+ recs(i) else sub
        }
      }
    }

    // huge objects (> the heap's max managed size — e.g. a very long
    // link name) live OUTSIDE the heap blocks; with the default 8-byte
    // heap ids the address rides an "indirectly accessed" v2 B-tree
    // (record type 1: address + length + id), looked up by the id the
    // heap ID carries. Depth-0 trees only — a group would need dozens
    // of over-4-KB link names to overflow one leaf.
    // id -> (address, stored length): record type 1 (plain) or 2
    // (filtered: + filter mask + memory size; the stored bytes defilter
    // through the heap's pipeline before the link message parses)
    lazy val hugeRecords: Map[Long, (Long, Long)] = {
      require(hugeBtAddr != Undef,
        s"huge fractal-heap ids present but no huge-object B-tree ($nHuge expected)")
      val hb = in.cursor(hugeBtAddr)
      require((0 until 4).map(_ => hb.get().toChar).mkString == "BTHD",
        "bad huge-object v2 B-tree signature")
      require(hb.get() == 0, "huge-object BTHD version != 0")
      val rtype = hb.get()
      require(rtype == 1 || rtype == 2,
        s"huge-object B-tree record type $rtype unsupported (indirect " +
          "plain (1) and filtered (2) decode)")
      require((rtype == 2) == heapFilters.nonEmpty,
        s"huge-object record type $rtype inconsistent with heap filterLen $filterLen")
      hb.getInt() // node size
      val recSize = hb.getShort() & 0xffff
      val wantRec = if (rtype == 1) 24 else 36
      require(recSize == wantRec,
        s"huge-object record size $recSize != $wantRec for type $rtype")
      val depth = hb.getShort() & 0xffff
      require(depth == 0,
        s"huge-object B-tree depth $depth unsupported (single leaf only)")
      hb.get(); hb.get() // split/merge percents
      val rootAddr = hb.getLong()
      val rootNRec = hb.getShort() & 0xffff
      val lb = in.cursor(rootAddr)
      require((0 until 4).map(_ => lb.get().toChar).mkString == "BTLF",
        "bad huge-object B-tree leaf signature")
      require(lb.get() == 0 && lb.get() == rtype,
        "huge-object BTLF version/type mismatch")
      (0 until rootNRec).map { _ =>
        val addr = lb.getLong()
        val storedLen = lb.getLong()
        if (rtype == 2) {
          val mask = lb.getInt()
          require(mask == 0,
            s"filtered huge object: nonzero filter mask $mask unsupported")
          lb.getLong() // memory (de-filtered) size; defilter yields it
        }
        val recId = lb.getLong()
        recId -> ((addr, storedLen))
      }.toMap
    }
    def hugeIn(addr: Long, storedLen: Long): (H5Input, Long) =
      if (heapFilters.isEmpty) (in, addr)
      else (new ArrayInput(defilter("huge heap object",
        in.slice(addr, storedLen.toInt), heapFilters, 1, signedInt = true)), 0L)

    readRecordIds(rootNodeAddr, rootNRec, depth).map { id =>
      ((id(0) >> 4) & 0x3) match {
        case 0 => // managed: heap-space offset into the block structure
          var off = 0L
          (0 until offSize).foreach(i => off |= (id(1 + i) & 0xffL) << (8 * i))
          val (bin, boff) = locate(off)
          parse(bin, boff)
        case 1 => // huge: directly addressed if the id fits the record
          // (plain: addr+len; filtered: addr+stored len+mask+mem size)
          val directPayload = if (heapFilters.isEmpty) 16 else 28
          if (1 + directPayload <= heapIdLen) {
            def le(at: Int, n: Int): Long = {
              var v = 0L
              (0 until n).foreach(i => v |= (id(at + i) & 0xffL) << (8 * i))
              v
            }
            val addr = le(1, 8)
            if (heapFilters.isEmpty) parse(in, addr)
            else {
              val storedLen = le(9, 8)
              val mask = le(17, 4)
              require(mask == 0,
                s"filtered huge object: nonzero filter mask $mask unsupported")
              val (bin, boff) = hugeIn(addr, storedLen)
              parse(bin, boff)
            }
          } else {
            var recId = 0L
            (1 until id.length).foreach(i => recId |= (id(i) & 0xffL) << (8 * (i - 1)))
            val (addr, storedLen) = hugeRecords.getOrElse(recId,
              throw new IllegalArgumentException(
                s"huge fractal-heap id $recId missing from the huge-object B-tree"))
            val (bin, boff) = hugeIn(addr, storedLen)
            parse(bin, boff)
          }
        case 2 => // tiny: the link message rides inside the heap ID itself
          // normal (id length <= 18): 4-bit length in byte 0; EXTENDED
          // (> 18): 12-bit length across byte 0's low nibble (high
          // bits) + byte 1, payload from byte 2
          val (len, start) =
            if (heapIdLen <= 18) ((id(0) & 0x0f) + 1, 1)
            else ((((id(0) & 0x0f) << 8) | (id(1) & 0xff)) + 1, 2)
          require(start + len <= id.length,
            s"tiny fractal-heap id claims $len payload bytes")
          parse(new ArrayInput(
            java.util.Arrays.copyOfRange(id, start, start + len)), 0L)
        case t => throw new IllegalArgumentException(
          s"fractal-heap id type $t unsupported")
      }
    }
  }

  /** Link message (type 0x0006), version 1: hard links only. */
  private def parseLinkMessage(in: H5Input, off: Long): (String, Long) = {
    val b = in.cursor(off)
    val ver = b.get()
    require(ver == 1, s"only v1 link messages supported (got $ver)")
    val flags = b.get()
    val linkType = if ((flags & 0x08) != 0) b.get() else 0
    require(linkType == 0, s"only hard links supported (link type $linkType)")
    if ((flags & 0x04) != 0) b.getLong() // creation order
    if ((flags & 0x10) != 0) b.get() // charset
    val nameLen: Long = (flags & 0x03) match {
      case 0 => (b.get() & 0xff).toLong
      case 1 => (b.getShort() & 0xffff).toLong
      case 2 => (b.getInt() & 0xffffffffL)
      case 3 => b.getLong()
    }
    val name = new Array[Byte](nameLen.toInt)
    b.get(name)
    (new String(name, "UTF-8"), b.getLong())
  }

  // ------------------------------------------------------- attributes
  // Attribute messages (type 0x000C, versions 1-3) from COMPACT object
  // headers, plus DENSE attribute storage (Attribute Info message
  // 0x0015 -> fractal heap + name-index v2 B-tree type 8) — what
  // libhdf5 switches to above ~8 attrs, i.e. any real netCDF-4 file
  // with a long global-attribute list. Vlen payloads resolve through
  // the global heap (GCOL). Reference provenance: the reference opens
  // netCDF-4 through xarray, whose dimension names and CF mask/scale
  // semantics ride on these attrs (convml_data/sources/goes16 + satpy).

  /** Minimal datatype parse for attribute values. Consumes exactly the
    * class's fixed properties so a vlen BASE type can follow. */
  private final case class AType(cls: Int, size: Int, bigEndian: Boolean,
      signed: Boolean, vlenString: Boolean, base: Option[AType])

  private def parseAType(b: H5Cursor): AType = {
    val classVer = b.get() & 0xff
    val cls = classVer & 0x0f
    val bits0 = b.get() & 0xff
    b.get(); b.get() // class bit fields 8-23
    val size = b.getInt()
    cls match {
      case 0 => // fixed-point: props = bit offset + precision
        val bitOff = b.getShort() & 0xffff
        val prec = b.getShort() & 0xffff
        require(bitOff == 0 && prec == size * 8,
          s"attribute fixed-point precision $prec/offset $bitOff unsupported")
        AType(0, size, (bits0 & 1) == 1, (bits0 & 0x08) != 0, vlenString = false, None)
      case 1 => // float: props = 12 bytes (IEEE-gated at decode)
        val bitOff = b.getShort() & 0xffff
        val prec = b.getShort() & 0xffff
        b.get(); b.get(); b.get(); b.get(); b.getInt() // exp/man loc+size, bias
        require(bitOff == 0 && prec == size * 8,
          s"attribute float precision $prec/offset $bitOff unsupported")
        AType(1, size, (bits0 & 1) == 1, signed = true, vlenString = false, None)
      case 3 => // string (fixed-size): padding/charset in bits — NUL-strip either way
        AType(3, size, bigEndian = false, signed = false, vlenString = false, None)
      case 7 => // reference: low nibble 0 = object reference
        require((bits0 & 0x0f) == 0,
          s"attribute reference type ${bits0 & 0x0f} unsupported (object refs only)")
        AType(7, size, bigEndian = false, signed = false, vlenString = false, None)
      case 9 => // vlen: low nibble 0 = sequence, 1 = string; base type follows
        val isStr = (bits0 & 0x0f) == 1
        val base = parseAType(b)
        AType(9, size, bigEndian = false, signed = false, isStr, Some(base))
      case other => throw new IllegalArgumentException(
        s"attribute datatype class $other unsupported")
    }
  }

  /** One global-heap (GCOL) object's bytes. */
  private def gheapObject(in: H5Input, addr: Long, idx: Int): Array[Byte] = {
    val b = in.cursor(addr)
    require((0 until 4).map(_ => b.get().toChar).mkString == "GCOL",
      s"bad global heap signature at $addr")
    require(b.get() == 1, "global heap version != 1")
    b.get(); b.get(); b.get() // reserved
    val collSize = b.getLong() // includes this 16-byte header
    val end = addr + collSize
    var pos = b.position()
    while (pos + 16 <= end) {
      val ob = in.cursor(pos)
      val oidx = ob.getShort() & 0xffff
      ob.getShort(); ob.getInt() // ref count + reserved
      val osize = ob.getLong()
      if (oidx == 0) pos = end // free-space terminator
      else {
        // a lying object size must reject, not allocate
        require(osize >= 0 && ob.position() + osize <= end,
          s"global heap object $oidx claims $osize bytes past the collection")
        if (oidx == idx) return in.slice(ob.position(), osize.toInt)
        pos = ob.position() + ((osize + 7) & ~7L)
      }
    }
    throw new IllegalArgumentException(s"global heap object $idx not found at $addr")
  }

  /** Decode `n` attribute elements of type `t` starting at `dataOff`. */
  private def decodeAttrValue(in: H5Input, t: AType, dataOff: Long,
      n: Int): H5AttrValue = {
    def bb(len: Int): ByteBuffer = {
      val b = ByteBuffer.wrap(in.slice(dataOff, len))
      b.order(if (t.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
      b
    }
    def cstr(a: Array[Byte]): String = {
      val nul = a.indexOf(0.toByte)
      new String(a, 0, if (nul < 0) a.length else nul, "UTF-8")
    }
    // vlen element on disk: u32 length + 12-byte global heap id
    def vlenBytes(i: Int): (Array[Byte], Int) = {
      val eb = in.cursor(dataOff + 16L * i)
      val len = eb.getInt()
      val gaddr = eb.getLong()
      val gidx = eb.getInt()
      (if (len == 0) Array.emptyByteArray else gheapObject(in, gaddr, gidx), len)
    }
    t.cls match {
      case 0 =>
        val b = bb(n * t.size)
        H5AttrValue.Ints((0 until n).map { i =>
          t.size match {
            case 1 => if (t.signed) b.get(i).toLong else (b.get(i) & 0xff).toLong
            case 2 => if (t.signed) b.getShort(i * 2).toLong else (b.getShort(i * 2) & 0xffff).toLong
            case 4 => if (t.signed) b.getInt(i * 4).toLong else b.getInt(i * 4) & 0xffffffffL
            case 8 => b.getLong(i * 8) // unsigned magnitude rides the Long bits
            case s => throw new IllegalArgumentException(
              s"attribute fixed-point size $s unsupported")
          }
        })
      case 1 =>
        val b = bb(n * t.size)
        H5AttrValue.Nums((0 until n).map { i =>
          t.size match {
            case 4 => b.getFloat(i * 4).toDouble
            case 8 => b.getDouble(i * 8)
            case s => throw new IllegalArgumentException(
              s"attribute float size $s unsupported")
          }
        })
      case 3 =>
        H5AttrValue.Strs((0 until n).map(i =>
          cstr(in.slice(dataOff + i.toLong * t.size, t.size))))
      case 7 =>
        val b = bb(n * 8)
        H5AttrValue.Refs((0 until n).map(i => b.getLong(i * 8)))
      case 9 if t.vlenString =>
        H5AttrValue.Strs((0 until n).map { i =>
          val (bytes, len) = vlenBytes(i)
          new String(bytes, 0, math.min(len, bytes.length), "UTF-8")
        })
      case 9 if t.base.exists(_.cls == 7) =>
        H5AttrValue.RefLists((0 until n).map { i =>
          val (bytes, len) = vlenBytes(i)
          require(len >= 0 && len.toLong * 8 <= bytes.length,
            s"vlen reference list claims $len refs in ${bytes.length} bytes")
          val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
          (0 until len).map(j => b.getLong(j * 8))
        })
      case 9 => throw new IllegalArgumentException(
        s"attribute vlen of class ${t.base.map(_.cls).getOrElse(-1)} unsupported")
      case other => throw new IllegalArgumentException(
        s"attribute datatype class $other unsupported")
    }
  }

  /** Attribute message (0x000C), versions 1 (v1 headers: name/datatype/
    * dataspace each padded to 8) and 2/3 (OHDR: unpadded; v3 adds a
    * name-charset byte). Undecodable values degrade to Unsupported. */
  private[sources] def parseAttrMessage(in: H5Input, off: Long): H5Attr = {
    val b = in.cursor(off)
    val ver = b.get() & 0xff
    require(ver >= 1 && ver <= 3, s"attribute message version $ver unsupported")
    val flags = b.get() & 0xff // v1: reserved (always 0)
    val nameSize = b.getShort() & 0xffff
    val dtSize = b.getShort() & 0xffff
    val dsSize = b.getShort() & 0xffff
    if (ver == 3) b.get() // name character-set encoding
    def p8(x: Int): Int = if (ver == 1) (x + 7) & ~7 else x
    val nameOff = b.position()
    val nameBytes = in.slice(nameOff, nameSize)
    val nul = nameBytes.indexOf(0.toByte)
    val name = new String(nameBytes, 0, if (nul < 0) nameBytes.length else nul, "UTF-8")
    val dtOff = nameOff + p8(nameSize)
    val dsOff = dtOff + p8(dtSize)
    val dataOff = dsOff + p8(dsSize)
    if (ver >= 2 && (flags & 0x03) != 0)
      return H5Attr(name, H5AttrValue.Unsupported("shared datatype/dataspace"))
    val value = try {
      // dataspace: element count (scalar -> 1); maxdims may follow the
      // dims but dataOff comes from the STORED size, so they skip free
      val sb = in.cursor(dsOff)
      val sver = sb.get() & 0xff
      val ndims = sb.get() & 0xff
      sver match {
        case 1 => sb.get(); sb.get(); sb.getInt() // flags + reserved
        case 2 => sb.get(); sb.get() // flags + dataspace type
        case other => throw new IllegalArgumentException(
          s"attribute dataspace version $other unsupported")
      }
      val n = (0 until ndims).map(_ => sb.getLong()).product.max(1L)
      require(n <= 1e6.toLong, s"attribute '$name' claims $n elements")
      decodeAttrValue(in, parseAType(in.cursor(dtOff)), dataOff, n.toInt)
    } catch {
      case e: IllegalArgumentException => H5AttrValue.Unsupported(e.getMessage)
    }
    H5Attr(name, value)
  }

  /** All attributes of one object header: compact 0x000C messages plus
    * dense storage behind an Attribute Info message (0x0015). */
  private def attrsOf(in: H5Input, msgs: Seq[(Int, Long)]): Seq[H5Attr] = {
    val compact = msgs.collect { case (0x000C, off) => parseAttrMessage(in, off) }
    val dense = msgs.collectFirst { case (0x0015, off) =>
      val b = in.cursor(off)
      require(b.get() == 0, "attribute info message version != 0")
      val flags = b.get()
      if ((flags & 1) != 0) b.getShort() // max creation index
      val fheap = b.getLong()
      val nameBt = b.getLong()
      if (fheap == Undef || nameBt == Undef) Nil
      else denseObjects(in, fheap, nameBt, btype = 8)(parseAttrMessage)
    }.getOrElse(Nil)
    compact ++ dense
  }

  /** Attribute sets of the root group (key `""`) and of every object
    * under it — datasets AND groups (netCDF-4 group attrs), keyed by
    * group path, dense or compact storage. Driver-side metadata
    * (KB-scale header walks over a [[PagedFileInput]]). */
  def attributes(in: H5Input): Map[String, Seq[H5Attr]] =
    (("" -> attrsOf(in, foldMessages(in, rootHeaderAddr(in)))) +:
      walkEntries(in).map { case (path, addr, _) =>
        path -> attrsOf(in, foldMessages(in, addr))
      }).toMap

  /** netCDF-4 dimension scales: for each dataset carrying a
    * `DIMENSION_LIST` attribute, its per-axis dimension names — the
    * referenced dim-scale datasets' group-path names (None for an
    * axis with no attached scale). This is what xarray shows as the
    * variable's `dims`, resolved from object references. */
  def dimensionNames(in: H5Input): Map[String, Seq[Option[String]]] = {
    val entries = walkEntries(in)
    val byAddr = entries.map { case (p, a, _) => a -> p }.toMap
    entries.flatMap { case (path, addr, _) =>
      attrsOf(in, foldMessages(in, addr)).collectFirst {
        case H5Attr("DIMENSION_LIST", H5AttrValue.RefLists(ls)) =>
          path -> ls.map(_.headOption.flatMap(byAddr.get))
      }
    }.toMap
  }

  /** Parse an object header (v1 or v2/"OHDR", continuation blocks in
    * both); returns (msgType, absolute data offset) in file order. */
  private def foldMessages(in: H5Input, addr: Long): Seq[(Int, Long)] = {
    if (in.byteAt(addr) == 'O' && in.byteAt(addr + 1) == 'H' &&
      in.byteAt(addr + 2) == 'D' && in.byteAt(addr + 3) == 'R')
      foldMessagesV2(in, addr)
    else foldMessagesV1(in, addr)
  }

  private def foldMessagesV1(in: H5Input, addr: Long): Seq[(Int, Long)] = {
    val b = in.cursor(addr)
    val version = b.get()
    require(version == 1, s"only v1/v2 object headers supported (got $version)")
    b.get() // reserved
    val nMsg = b.getShort() & 0xffff
    b.getInt() // ref count
    val headerSize = b.getInt()
    b.getInt() // padding to 8-byte alignment
    var out = List.empty[(Int, Long)]
    // (start, length) message blocks: header block first, then any
    // continuation blocks (raw message runs in v1) in file order
    val blocks = scala.collection.mutable.Queue[(Long, Long)]((b.position(), headerSize.toLong))
    var read = 0
    while (read < nMsg && blocks.nonEmpty) {
      val (start, len) = blocks.dequeue()
      var pos = start
      val end = start + len
      while (read < nMsg && pos + 8 <= end) {
        val mb = in.cursor(pos)
        val mtype = mb.getShort() & 0xffff
        val msize = mb.getShort() & 0xffff
        mb.get(); mb.get(); mb.get(); mb.get() // flags + reserved
        val dataOff = mb.position()
        if (mtype == 0x0010) {
          val cb = in.cursor(dataOff)
          blocks.enqueue((cb.getLong(), cb.getLong()))
        } else out = (mtype, dataOff) :: out
        pos = dataOff + msize
        read += 1
      }
    }
    require(read == nMsg, s"object header truncated: $read of $nMsg messages found")
    out.reverse
  }

  private def foldMessagesV2(in: H5Input, addr: Long): Seq[(Int, Long)] = {
    val b = in.cursor(addr + 4) // past "OHDR"
    val version = b.get()
    require(version == 2, s"OHDR version $version unsupported")
    val flags = b.get()
    if ((flags & 0x20) != 0) { b.getInt(); b.getInt(); b.getInt(); b.getInt() } // times
    if ((flags & 0x10) != 0) { b.getShort(); b.getShort() } // attr phase change
    val chunk0Size: Long = (flags & 0x03) match {
      case 0 => (b.get() & 0xff).toLong
      case 1 => (b.getShort() & 0xffff).toLong
      case 2 => b.getInt() & 0xffffffffL
      case 3 => b.getLong()
    }
    val trackOrder = (flags & 0x04) != 0
    val msgHdrLen = if (trackOrder) 6 else 4
    var out = List.empty[(Int, Long)]
    val blocks = scala.collection.mutable.Queue[(Long, Long)]((b.position(), chunk0Size))
    while (blocks.nonEmpty) {
      val (start, len) = blocks.dequeue()
      var pos = start
      val end = start + len
      while (pos + msgHdrLen <= end) {
        val mb = in.cursor(pos)
        val mtype = mb.get() & 0xff
        val msize = mb.getShort() & 0xffff
        mb.get() // message flags
        if (trackOrder) mb.getShort() // creation order
        val dataOff = mb.position()
        if (mtype == 0x10) {
          val cb = in.cursor(dataOff)
          val cOff = cb.getLong()
          val cLen = cb.getLong()
          require(in.byteAt(cOff) == 'O' && in.byteAt(cOff + 1) == 'C' &&
            in.byteAt(cOff + 2) == 'H' && in.byteAt(cOff + 3) == 'K',
            "bad continuation block signature (expected OCHK)")
          // gross block length includes the signature and trailing checksum
          blocks.enqueue((cOff + 4, cLen - 8))
        } else out = (mtype, dataOff) :: out
        pos = dataOff + msize
      }
    }
    out.reverse
  }

  private def parseHeapDataAddr(in: H5Input, addr: Long): Long = {
    val b = in.cursor(addr)
    val sig = Array.fill(4)(b.get())
    require(new String(sig.map(_.toChar)) == "HEAP", "bad local heap signature")
    b.get(); b.get(); b.get(); b.get() // version + reserved
    b.getLong(); b.getLong() // data segment size, free list head
    b.getLong() // data segment address
  }

  /** Walk the v1 B-tree (group node type 0); leaves point at SNODs. */
  private def collectSnods(in: H5Input, addr: Long): Seq[Long] = {
    val b = in.cursor(addr)
    val sig = Array.fill(4)(b.get())
    require(new String(sig.map(_.toChar)) == "TREE", "bad B-tree signature")
    val nodeType = b.get()
    require(nodeType == 0, s"B-tree node type $nodeType (expected group node)")
    val level = b.get()
    val used = b.getShort() & 0xffff
    b.getLong(); b.getLong() // siblings
    val children = (0 until used).map { _ =>
      b.getLong() // key i (heap offset)
      b.getLong() // child i
    }
    b.getLong() // final key
    if (level == 0) children else children.flatMap(collectSnods(in, _))
  }

  private def parseSnod(in: H5Input, addr: Long, heapData: Long): Seq[(String, Long)] = {
    val b = in.cursor(addr)
    val sig = Array.fill(4)(b.get())
    require(new String(sig.map(_.toChar)) == "SNOD", "bad symbol node signature")
    b.get(); b.get() // version, reserved
    val n = b.getShort() & 0xffff
    (0 until n).map { _ =>
      val nameOff = b.getLong()
      val headerAddr = b.getLong()
      b.getInt(); b.getInt() // cache type, reserved
      (0 until 16).foreach(_ => b.get()) // scratch
      (readCString(in, heapData + nameOff), headerAddr)
    }
  }

  private def readCString(in: H5Input, off: Long): String = {
    var end = off
    while (in.byteAt(end) != 0) end += 1
    val a = in.slice(off, (end - off).toInt)
    new String(a, "UTF-8")
  }

  // --------------------------------------------- dataset object headers

  /** Everything the layout/datatype/dataspace/filter messages say about
    * one dataset — enough to enumerate its chunks and decode any one of
    * them independently. */
  private final case class DsHeader(
      name: String, dims: Seq[Long], dtClass: Int, dtSize: Int, bigEndian: Boolean,
      dtSigned: Boolean, dataAddr: Long, chunkDims: Seq[Int], chunkBtree: Long,
      v4Index: Option[(Int, Long)], v4SingleChunk: Option[(Long, Int)],
      compactOff: Long, compactLen: Int, filters: Seq[H5Filter]) {
    /** Placement grid: the chunk dims for chunked storage, the full
      * extent for contiguous/compact (one whole-dataset "chunk"). */
    def effChunkDims: Seq[Int] =
      if (chunkDims.nonEmpty) chunkDims else dims.map(_.toInt)
  }

  private def parseHeader(in: H5Input, name: String, addr: Long): DsHeader = {
    var dims: Seq[Long] = Nil
    var dtClass = -1
    var dtSize = -1
    var dtBigEndian = false
    var dtSigned = true
    var dtPrec = -1  // bit precision from the datatype properties
    var dtBitOff = 0 // bit offset from the datatype properties
    var dataAddr = Undef
    var chunkDims: Seq[Int] = Nil // element-count dims (element-size tail dropped)
    var chunkBtree = Undef
    // layout v4: (index type, index address) — 1 single chunk, 2 implicit,
    // 3 fixed array; v4 single-chunk filtered also carries (size, mask)
    var v4Index: Option[(Int, Long)] = None
    var v4SingleChunk: Option[(Long, Int)] = None // (filtered size, mask)
    var compactOff = -1L // layout class 0: data inline in the header
    var compactLen = 0
    var filters: Seq[H5Filter] = Nil // pipeline order as applied on write
    foldMessages(in, addr).foreach { case (mtype, off) =>
      mtype match {
        case 0x0001 => // dataspace (v1 default-properties, v2 latest)
          val b = in.cursor(off)
          val v = b.get()
          val ndims = v match {
            case 1 =>
              val nd = b.get()
              b.get() // flags (maxdims may follow the dims; not needed)
              b.get(); b.getInt() // reserved
              nd
            case 2 =>
              val nd = b.get()
              b.get() // flags
              b.get() // dataspace type (simple/scalar — dims drive either)
              nd
            case other => throw new IllegalArgumentException(
              s"dataset $name: dataspace version $other unsupported")
          }
          dims = (0 until ndims).map(_ => b.getLong())
        case 0x0003 => // datatype
          val b = in.cursor(off)
          val classVer = b.get()
          dtClass = classVer & 0x0f
          val bits0 = b.get(); b.get(); b.get()
          dtSize = b.getInt()
          // bit 0 of the class bit field is the byte order (0 = LE,
          // 1 = BE — the legacy big-iron shape); both decode
          dtBigEndian = (bits0 & 1) == 1
          require(dtClass == 0 || dtClass == 1,
            s"dataset $name: datatype class $dtClass unsupported (fixed/float only)")
          // fixed-point AND floating-point properties both lead with
          // (bit offset: 2, bit precision: 2); fixed-point sign is bit 3
          // of the class bit field. A sub-precision value read at full
          // width would be silently wrong, so precision/offset are
          // parsed and gated below rather than ignored.
          dtSigned = dtClass != 0 || (bits0 & 0x08) != 0
          dtBitOff = b.getShort() & 0xffff
          dtPrec = b.getShort() & 0xffff
          if (dtClass == 1)
            require(dtBitOff == 0 && dtPrec == dtSize * 8,
              s"dataset $name: custom float precision $dtPrec/offset " +
                s"$dtBitOff unsupported (IEEE binary32/binary64 only)")
        case 0x0008 => // data layout
          val b = in.cursor(off)
          val v = b.get()
          require(v == 3 || v == 4,
            s"dataset $name: only v3/v4 layout messages supported (got $v)")
          val cls = b.get()
          (v, cls) match {
            case (_, 0) =>
              // compact: raw data inline in the layout message (<= 64 KiB —
              // the shape libhdf5 gives tiny coordinate/scalar variables)
              compactLen = b.getShort() & 0xffff
              compactOff = b.position()
            case (_, 1) =>
              dataAddr = b.getLong()
              b.getLong() // size
            case (3, 2) =>
              val nd = b.get() // dataset ndims + 1 (element-size tail)
              chunkBtree = b.getLong()
              chunkDims = (0 until nd - 1).map(_ => b.getInt())
              b.getInt() // element size dim
            case (4, 2) =>
              // v4 chunked: flags, ndims, encoded dim length, chunk dims,
              // index type, index data, address. libhdf5 writes the dims
              // with the SAME rank+1 convention as v3: the trailing entry
              // is the datatype size, not a spatial dim — drop it.
              val flags = b.get()
              val nd = b.get()
              val encLen = b.get()
              def encDim(): Long = {
                var x = 0L
                (0 until encLen).foreach(i => x |= (b.get() & 0xffL) << (8 * i))
                x
              }
              chunkDims = (0 until nd - 1).map(_ => encDim().toInt)
              encDim() // element-size tail

              val idxType = b.get()
              idxType match {
                case 1 => // single chunk; filtered variant carries size+mask
                  if ((flags & 0x02) != 0) {
                    val sz = b.getLong(); val mask = b.getInt()
                    v4SingleChunk = Some((sz, mask))
                  } else v4SingleChunk = Some((-1L, 0))
                case 2 => () // implicit: consecutive unfiltered chunks
                case 3 => b.get() // fixed array: page bits
                case 4 => // extensible array: 5 cparam bytes (repeated in EAHD)
                  b.get(); b.get(); b.get(); b.get(); b.get()
                case 5 => // v2 B-tree: node size + split/merge percents
                  b.getInt(); b.get(); b.get()
                case other => throw new IllegalArgumentException(
                  s"dataset $name: v4 chunk index type $other unsupported " +
                    "(single/implicit/fixed-array/extensible-array/v2-B-tree only)")
              }
              v4Index = Some((idxType, b.getLong()))
            case (_, other) => throw new IllegalArgumentException(
              s"dataset $name: layout class $other unsupported (compact/contiguous/chunked only)")
          }
        case 0x000B => // filter pipeline: deflate(1) shuffle(2) fletcher32(3) szip(4)
          filters = parseFilterPipeline(in.cursor(off), s"dataset $name")
        case _ => () // NIL, attributes, mod-time, fill value: skipped
      }
    }
    require(dtClass >= 0 &&
      (dataAddr != Undef || chunkBtree != Undef || v4Index.isDefined || compactOff >= 0),
      s"dataset $name: incomplete object header")
    if (chunkDims.nonEmpty)
      require(chunkDims.size == dims.size,
        s"dataset $name: chunk rank ${chunkDims.size} != dataset rank ${dims.size}")
    // Sub-precision fixed-point data: only decodable when the nbit
    // filter carries the SAME precision/offset in its client data (its
    // decode materializes full-width native values). Anything else
    // would read padding bits as value bits — reject loudly.
    if (dtClass == 0 && dtPrec >= 0 && (dtPrec != dtSize * 8 || dtBitOff != 0)) {
      val nbitMatches = filters.exists(f =>
        f.id == 5 && f.cd.size >= 8 && f.cd(6) == dtPrec && f.cd(7) == dtBitOff)
      require(nbitMatches,
        s"dataset $name: sub-precision fixed-point (precision $dtPrec, " +
          s"offset $dtBitOff of ${dtSize * 8} bits) requires a matching " +
          "nbit filter — raw sub-precision storage unsupported")
    }
    DsHeader(name, dims, dtClass, dtSize, dtBigEndian, dtSigned, dataAddr,
      chunkDims, chunkBtree, v4Index, v4SingleChunk, compactOff, compactLen,
      filters)
  }

  /** Enumerate every stored chunk of `h` as (grid origin, absolute file
    * offset, stored byte count) — the shared spine of whole-file decode
    * ([[read]]) and the chunk-parallel manifest ([[manifest]]). Touches
    * index structures only, never chunk payloads. Contiguous and
    * compact datasets emit one full-extent record. */
  private def forEachChunk(in: H5Input, h: DsHeader)(
      emit: (Seq[Long], Long, Long) => Unit): Unit = {
    val n = h.dims.product
    if (h.compactOff >= 0) {
      require(h.filters.isEmpty, s"dataset ${h.name}: filtered compact data unsupported")
      require(h.compactLen == n * h.dtSize,
        s"dataset ${h.name}: compact payload ${h.compactLen} != ${n * h.dtSize} bytes")
      emit(h.dims.map(_ => 0L), h.compactOff, h.compactLen.toLong)
    } else if (h.chunkBtree != Undef) enumerateChunksV1(in, h)(emit)
    else if (h.v4Index.isDefined) enumerateChunksV4(in, h)(emit)
    else {
      require(h.filters.isEmpty, s"dataset ${h.name}: filtered contiguous data unsupported")
      emit(h.dims.map(_ => 0L), h.dataAddr, n * h.dtSize)
    }
  }

  private def parseDataset(in: H5Input, name: String, addr: Long): H5Dataset = {
    val h = parseHeader(in, name, addr)
    val dims = h.dims.map(_.toInt)
    val nd = dims.size
    val n = h.dims.product.toInt // empty dims = scalar (product 1)
    val out = new Array[Byte](n * h.dtSize)
    val strides = new Array[Long](nd)
    var acc = 1L
    for (k <- (nd - 1) to 0 by -1) { strides(k) = acc; acc *= dims(k) }
    forEachChunk(in, h) { (origin, caddr, nbytes) =>
      placeChunk(in, name, out, dims, strides, h.effChunkDims, h.dtSize,
        h.dtSigned, h.filters, origin, caddr, nbytes.toInt)
    }
    val b = ByteBuffer.wrap(out).order(
      if (h.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val values = new Array[Double](n)
    var i = 0
    while (i < n) {
      values(i) = elemAt(b, name, h.dtClass, h.dtSize, h.dtSigned, i)
      i += 1
    }
    H5Dataset(name, h.dims, values)
  }

  /** Inverse of the byte-shuffle filter: the stored chunk holds all
    * byte-0s, then all byte-1s, ...; restore element-interleaved order.
    * Trailing bytes past the last whole element pass through unshuffled
    * (libhdf5 semantics — a fletcher32 checksum appended BEFORE shuffle
    * in the pipeline rides through as a 4-byte leftover). */
  private def unshuffleBytes(in: Array[Byte], esize: Int): Array[Byte] = {
    val n = in.length / esize
    val body = n * esize
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < esize) { out(i * esize + j) = in(j * n + i); j += 1 }
      i += 1
    }
    System.arraycopy(in, body, out, body, in.length - body)
    out
  }

  /** Forward byte-shuffle (writer side); leftover bytes copy straight. */
  private def shuffleBytes(in: Array[Byte], esize: Int): Array[Byte] = {
    val n = in.length / esize
    val body = n * esize
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < esize) { out(j * n + i) = in(i * esize + j); j += 1 }
      i += 1
    }
    System.arraycopy(in, body, out, body, in.length - body)
    out
  }

  /** HDF5's Fletcher-32 variant (filter id 3, the `nc_def_var_fletcher32`
    * checksum): big-endian 16-bit words summed in two accumulators that
    * fold every 360 words so a uint32 never overflows; an odd trailing
    * byte is treated as the high byte of a final word. Returned as the
    * uint32 `(sum2 << 16) | sum1` the filter appends little-endian. */
  private[sources] def fletcher32(data: Array[Byte], len: Int): Long = {
    var sum1 = 0L; var sum2 = 0L
    var i = 0
    var remaining = len / 2
    while (remaining > 0) {
      var t = math.min(remaining, 360)
      remaining -= t
      while (t > 0) {
        sum1 += ((data(i) & 0xffL) << 8) | (data(i + 1) & 0xffL)
        i += 2
        sum2 += sum1
        t -= 1
      }
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    if (len % 2 == 1) {
      sum1 += (data(i) & 0xffL) << 8
      sum2 += sum1
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    sum1 = (sum1 & 0xffff) + (sum1 >> 16)
    sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    (sum2 << 16) | sum1
  }

  /** Apply the inverse filter pipeline (reverse write order). */
  /** Filter-pipeline message body (type 0x000B, versions 1 + 2) — also
    * the encoding the FRHP header embeds for filtered heap blocks. */
  private def parseFilterPipeline(b: H5Cursor, what: String): Seq[H5Filter] = {
    val v = b.get()
    val entries = v match {
      case 1 =>
        val nf = b.get() & 0xff
        b.getShort(); b.getInt() // reserved
        (0 until nf).map { _ =>
          val id = b.getShort() & 0xffff
          val nameLen = b.getShort() & 0xffff
          b.getShort() // flags
          val nVals = b.getShort() & 0xffff
          (0 until nameLen).foreach(_ => b.get())
          val cd = (0 until nVals).map(_ => b.getInt())
          if (nVals % 2 == 1) b.getInt() // pad to 8
          H5Filter(id, cd)
        }
      case 2 =>
        val nf = b.get() & 0xff
        (0 until nf).map { _ =>
          val id = b.getShort() & 0xffff
          val nameLen = if (id >= 256) b.getShort() & 0xffff else 0
          b.getShort() // flags
          val nVals = b.getShort() & 0xffff
          (0 until nameLen).foreach(_ => b.get())
          val cd = (0 until nVals).map(_ => b.getInt()) // no padding in v2
          H5Filter(id, cd)
        }
      case other => throw new IllegalArgumentException(
        s"$what: filter pipeline version $other unsupported")
    }
    entries.foreach(f => require(f.id >= 1 && f.id <= 6,
      s"$what: filter id ${f.id} unsupported — deflate (1), " +
        "shuffle (2), fletcher32 (3), szip (4), nbit (5) and " +
        "scale-offset (6) are implemented"))
    entries
  }

  private[sources] def defilter(name: String, comp: Array[Byte], filters: Seq[H5Filter],
      elemSize: Int, signedInt: Boolean): Array[Byte] =
    filters.reverse.foldLeft(comp) { (acc, f) =>
      f.id match {
        case 1 =>
          val inf = new java.util.zip.Inflater()
          inf.setInput(acc)
          val outBuf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          while (!inf.finished()) {
            val k = inf.inflate(tmp)
            require(k > 0 || inf.finished(), s"dataset $name: truncated deflate chunk")
            outBuf.write(tmp, 0, k)
          }
          inf.end()
          outBuf.toByteArray
        case 2 => unshuffleBytes(acc, elemSize)
        case 3 => // fletcher32: verify the trailing LE uint32, then strip it
          require(acc.length >= 4, s"dataset $name: fletcher32 chunk under 4 bytes")
          val n = acc.length - 4
          val stored = (acc(n) & 0xffL) | ((acc(n + 1) & 0xffL) << 8) |
            ((acc(n + 2) & 0xffL) << 16) | ((acc(n + 3) & 0xffL) << 24)
          val computed = fletcher32(acc, n)
          require(stored == computed,
            f"dataset $name: fletcher32 mismatch (stored 0x$stored%08x, " +
              f"computed 0x$computed%08x) — chunk is corrupt")
          java.util.Arrays.copyOf(acc, n)
        case 4 => // szip (CCSDS 121 extended-Rice via the H5Zszip framing)
          require(f.cd.size >= 4,
            s"dataset $name: szip filter carries ${f.cd.size} client words, expected 4")
          Szip.decodeH5Chunk(name, acc, f.cd(0), f.cd(1), f.cd(2), f.cd(3))
        case 5 => denbit(name, acc, f.cd, elemSize, signedInt)
        case 6 => descaleoffset(name, acc, f.cd, elemSize)
      }
    }

  /** MSB-first bit reader over a byte array — the packing both H5Znbit
    * and H5Zscaleoffset use: each element contributes its significant
    * bits high-to-low into a continuous big-endian bitstream (the
    * per-byte loops of H5Z__nbit_decompress_one_byte /
    * H5Z__scaleoffset_decompress_one_byte reduce to exactly this). */
  private final class BitReader(buf: Array[Byte], start: Int, name: String) {
    private var pos = start
    private var left = 8 // bits not yet consumed in buf(pos), MSB side first
    def readBits(n: Int): Long = {
      var out = 0L
      var need = n
      while (need > 0) {
        require(pos < buf.length, s"dataset $name: truncated bit-packed stream")
        val take = math.min(need, left)
        val v = ((buf(pos) & 0xff) >> (left - take)) & ((1 << take) - 1)
        out = (out << take) | v
        left -= take
        need -= take
        if (left == 0) { pos += 1; left = 8 }
      }
      out
    }
  }

  /** Sign-extend the low `bits` bits of `v`. */
  private def signExtend(v: Long, bits: Int): Long =
    if (bits >= 64) v else (v << (64 - bits)) >> (64 - bits)

  /** Reassemble a native value of `size` bytes from the filter client
    * data words starting at `from` (H5Z_scaleoffset_get_filval: the
    * fill value's native bytes packed little-endian, 4 per word). */
  private def cdBytesLE(cd: Seq[Int], from: Int, size: Int): Long = {
    var v = 0L
    var k = 0
    while (k < size) {
      val word = cd(from + k / 4)
      v |= ((word >>> ((k % 4) * 8)) & 0xffL) << (k * 8)
      k += 1
    }
    v
  }

  private def storeLE(out: Array[Byte], at: Int, v: Long, size: Int): Unit = {
    var k = 0
    while (k < size) { out(at + k) = ((v >>> (k * 8)) & 0xff).toByte; k += 1 }
  }

  /** Inverse of the nbit filter (id 5, H5Znbit): client data
    * [nparms, no-op flag, nelmts, class, size, order, precision, offset]
    * for the atomic class. The packed stream holds each element's
    * `precision` significant bits (from bit `offset` of the stored
    * datatype) MSB-first. Unlike libhdf5 — whose filter leaves the bits
    * at `offset` with zero padding and relies on H5T conversion to
    * extract them — this decode materializes the CONVERTED full-width
    * native value directly (shift down + sign-extend when the dataset
    * datatype is signed), so [[elemAt]]'s plain reads are exact,
    * negatives included. */
  private def denbit(name: String, comp: Array[Byte], cd: Seq[Int],
      elemSize: Int, signedInt: Boolean): Array[Byte] = {
    require(cd.size >= 4, s"dataset $name: nbit filter carries ${cd.size} client words")
    if (cd(3) == 4 || cd(1) != 0) return comp // NOOPTYPE / full-precision: pass-through
    require(cd(3) == 1,
      s"dataset $name: nbit datatype class ${cd(3)} unsupported (atomic only — " +
        "array/compound nbit out of scope)")
    require(cd.size >= 8, s"dataset $name: nbit atomic needs 8 client words, got ${cd.size}")
    val nelmts = cd(2)
    val size = cd(4)
    val precision = cd(6)
    val offset = cd(7)
    require(cd(5) == 0, s"dataset $name: big-endian nbit data unsupported")
    require(size == elemSize,
      s"dataset $name: nbit element size ${size} != datatype size $elemSize")
    require(nelmts >= 0 && precision >= 1 && offset >= 0 &&
      precision + offset <= size * 8,
      s"dataset $name: nbit precision $precision / offset $offset invalid for " +
        s"${size * 8}-bit elements")
    // bound the allocation by the physical stream BEFORE allocating — a
    // lying nelmts in corrupt client data must fail loudly, not OOM
    require((nelmts.toLong * precision + 7) / 8 <= comp.length,
      s"dataset $name: nbit stream holds fewer than $nelmts x $precision-bit elements")
    val out = new Array[Byte](nelmts * size)
    val br = new BitReader(comp, 0, name)
    var i = 0
    while (i < nelmts) {
      val s = br.readBits(precision)
      val v = if (signedInt) signExtend(s, precision) else s
      storeLE(out, i * size, v, size)
      i += 1
    }
    out
  }

  /** Inverse of the scale-offset filter (id 6, H5Zscaleoffset): client
    * data [scale type, scale factor, nelmts, class, size, sign, order,
    * fill-defined, fill bytes...]; the chunk leads with a 13-byte header
    * (minbits: 4 LE, minval width: 1, minval: 8 LE) followed by the
    * packed stream of `minbits`-bit values MSB-first. Supported scale
    * types: H5Z_SO_INT (2) — value = packed + minval in the integer's
    * width, all-ones sentinel = fill — and H5Z_SO_FLOAT_DSCALE (0) —
    * value = packed / 10^scale + min(double bits in minval). E-scale (1)
    * is unimplemented in libhdf5 itself and rejected here. */
  private def descaleoffset(name: String, comp: Array[Byte], cd: Seq[Int],
      elemSize: Int): Array[Byte] = {
    require(cd.size >= 8,
      s"dataset $name: scale-offset filter carries ${cd.size} client words, expected >= 8")
    val scaleType = cd(0)
    val dVal = cd(1)
    val nelmts = cd(2)
    val cls = cd(3) // 0 integer, 1 float
    val size = cd(4)
    val filavail = cd(7)
    require(cd(6) == 0, s"dataset $name: big-endian scale-offset data unsupported")
    require(size == elemSize,
      s"dataset $name: scale-offset element size $size != datatype size $elemSize")
    require(scaleType == 0 || scaleType == 2,
      s"dataset $name: scale-offset type $scaleType unsupported (E-scale is " +
        "unimplemented in libhdf5; INT (2) and FLOAT_DSCALE (0) decode)")
    require((scaleType == 2) == (cls == 0),
      s"dataset $name: scale-offset type $scaleType inconsistent with datatype class $cls")
    require(comp.length >= 13, s"dataset $name: scale-offset chunk under 13 header bytes")
    var minbits = 0L
    var k = 0
    while (k < 4) { minbits |= (comp(k) & 0xffL) << (k * 8); k += 1 }
    require((comp(4) & 0xff) == 8,
      s"dataset $name: scale-offset minval width ${comp(4) & 0xff} unsupported (expected 8)")
    var minval = 0L
    k = 0
    while (k < 8) { minval |= (comp(5 + k) & 0xffL) << (k * 8); k += 1 }
    require(minbits >= 0 && minbits <= size * 8,
      s"dataset $name: scale-offset minbits $minbits exceeds ${size * 8}-bit elements")
    // bound the allocation BEFORE it happens: the packed stream (or raw
    // payload) must physically hold nelmts elements — a lying nelmts in
    // corrupt client data fails loudly instead of attempting a giant
    // array (minbits == 0 constant chunks are bounded by a sane cap:
    // no real chunk exceeds 2^28 elements)
    require(nelmts >= 0 && (
      if (minbits == size * 8) nelmts.toLong * size <= comp.length - 13
      else if (minbits > 0) (nelmts.toLong * minbits + 7) / 8 <= comp.length - 13
      else nelmts <= (1 << 28)),
      s"dataset $name: scale-offset chunk cannot hold $nelmts elements")
    val out = new Array[Byte](nelmts * size)
    if (minbits == size * 8) { // full precision: raw little-endian payload
      System.arraycopy(comp, 13, out, 0, out.length)
      return out
    }
    val packed = new Array[Long](nelmts)
    if (minbits > 0) {
      val br = new BitReader(comp, 13, name)
      var i = 0
      while (i < nelmts) { packed(i) = br.readBits(minbits.toInt); i += 1 }
    }
    val sentinel = (1L << minbits) - 1 // all-ones = fill (only when fill defined)
    if (scaleType == 2) { // integer: wrap-around add in the type's width
      val filval = if (filavail == 1) cdBytesLE(cd, 8, size) else 0L
      var i = 0
      while (i < nelmts) {
        val v = if (filavail == 1 && packed(i) == sentinel) filval
          else packed(i) + minval
        storeLE(out, i * size, v, size)
        i += 1
      }
    } else { // FLOAT_DSCALE: packed / 10^D + min, computed in double
      require(size == 4 || size == 8,
        s"dataset $name: scale-offset float size $size unsupported")
      val pow10 =
        if (size == 4) math.pow(10.0, dVal.toDouble).toFloat.toDouble // powf parity
        else math.pow(10.0, dVal.toDouble)
      if (size == 8) {
        val min = java.lang.Double.longBitsToDouble(minval)
        val filval = if (filavail == 1)
          java.lang.Double.longBitsToDouble(cdBytesLE(cd, 8, 8)) else 0.0
        var i = 0
        while (i < nelmts) {
          val v = if (filavail == 1 && packed(i) == sentinel) filval
            else packed(i).toDouble / pow10 + min
          storeLE(out, i * 8, java.lang.Double.doubleToRawLongBits(v), 8)
          i += 1
        }
      } else {
        val min = java.lang.Float.intBitsToFloat(minval.toInt)
        val filval = if (filavail == 1)
          java.lang.Float.intBitsToFloat(cdBytesLE(cd, 8, 4).toInt) else 0.0f
        var i = 0
        while (i < nelmts) {
          val v = if (filavail == 1 && packed(i) == sentinel) filval
            else (packed(i).toDouble / pow10 + min.toDouble).toFloat
          storeLE(out, i * 4, java.lang.Float.floatToRawIntBits(v).toLong, 4)
          i += 1
        }
      }
    }
    out
  }

  /** Decode one stored chunk (inverse filters in reverse pipeline order)
    * and tile it into the row-major output image, clipping ragged edges.
    * Shared by every chunk index via [[forEachChunk]]. */
  private def placeChunk(in: H5Input, name: String, out: Array[Byte],
      dims: Seq[Int], strides: Array[Long], chunkDims: Seq[Int], elemSize: Int,
      signedInt: Boolean, filters: Seq[H5Filter], offsets: Seq[Long],
      addr: Long, nbytes: Int): Unit = {
    val nd = dims.size
    val chunkBytes = defilter(name, in.slice(addr, nbytes), filters, elemSize, signedInt)
    // full-extent "chunk" (contiguous/compact storage): straight copy
    if (offsets.forall(_ == 0L) && chunkDims == dims && chunkBytes.length == out.length) {
      System.arraycopy(chunkBytes, 0, out, 0, out.length)
      return
    }
    val nChunkElems = chunkDims.product
    var ci = 0
    while (ci < nChunkElems) {
      // chunk-local coords (row-major within the chunk)
      var rem = ci; var inBounds = true; var globalIdx = 0L
      var k = nd - 1
      while (k >= 0) {
        val local = rem % chunkDims(k)
        rem /= chunkDims(k)
        val g = offsets(k) + local
        if (g >= dims(k)) inBounds = false
        globalIdx += g * strides(k)
        k -= 1
      }
      if (inBounds)
        System.arraycopy(chunkBytes, ci * elemSize, out, (globalIdx * elemSize).toInt, elemSize)
      ci += 1
    }
  }

  /** Walk the v1 chunk B-tree (node type 1), emitting every chunk's
    * (origin, file offset, stored bytes). */
  private def enumerateChunksV1(in: H5Input, h: DsHeader)(
      emit: (Seq[Long], Long, Long) => Unit): Unit = {
    val nd = h.dims.size
    def walk(addr: Long): Unit = {
      val b = in.cursor(addr)
      val sig = Array.fill(4)(b.get())
      require(new String(sig.map(_.toChar)) == "TREE", s"dataset ${h.name}: bad chunk B-tree")
      val nodeType = b.get()
      require(nodeType == 1, s"dataset ${h.name}: B-tree node type $nodeType (expected chunks)")
      val level = b.get()
      val used = b.getShort() & 0xffff
      b.getLong(); b.getLong() // siblings
      (0 until used).foreach { _ =>
        // key: chunk byte size, filter mask, offsets (nd + 1, last 0)
        val nbytes = b.getInt()
        val filterMask = b.getInt()
        require(filterMask == 0,
          s"dataset ${h.name}: per-chunk filter mask $filterMask unsupported (partial pipelines)")
        val offsets = (0 until nd).map(_ => b.getLong())
        b.getLong() // element-size dimension offset (always 0)
        val child = b.getLong()
        if (level == 0) emit(offsets, child, nbytes.toLong)
        else walk(child)
      }
    }
    walk(h.chunkBtree)
  }

  /** Enumerate chunks stored under a LAYOUT-V4 chunk index: Single
    * Chunk (1), Implicit (2 — consecutive unfiltered chunks in row-major
    * grid order), a Fixed Array (3: FAHD header + one FADB data block,
    * paged past 2^pageBits entries; client 0 = plain addresses,
    * client 1 = address + chunk-size + filter mask per entry), an
    * Extensible Array (4:
    * EAHD header, EAIB index block holding the first elements plus
    * direct data-block and super-block addresses, EASB super blocks,
    * EADB data blocks — the index libhdf5 picks when exactly one
    * dimension is unlimited, i.e. every appended-time netCDF-4 series;
    * the unlimited dimension must be the slowest-varying so the array
    * index is the row-major chunk index; data blocks paged or unpaged),
    * or a Version 2 B-tree (5:
    * the >1-unlimited-dims index; record types 10/11, ANY depth). */
  private def enumerateChunksV4(in: H5Input, h: DsHeader)(
      emit: (Seq[Long], Long, Long) => Unit): Unit = {
    val name = h.name
    val dims = h.dims.map(_.toInt)
    val chunkDims = h.chunkDims
    val elemSize = h.dtSize
    val filters = h.filters
    val single = h.v4SingleChunk
    val nd = dims.size
    val chunkByteSize = chunkDims.product * elemSize
    val gridDims = dims.zip(chunkDims).map { case (d, c) => (d + c - 1) / c }
    val nChunks = gridDims.product
    def originOf(linear: Int): Seq[Long] = {
      var rem = linear
      val o = new Array[Long](nd)
      for (k <- (nd - 1) to 0 by -1) {
        o(k) = (rem % gridDims(k)).toLong * chunkDims(k)
        rem /= gridDims(k)
      }
      o.toSeq
    }
    val (itype, addr) = h.v4Index.get
    itype match {
      case 1 =>
        require(nChunks == 1,
          s"dataset $name: single-chunk index but ${nChunks}-chunk grid")
        require(filters.isEmpty || single.exists(_._1 >= 0),
          s"dataset $name: filtered single chunk without a stored size")
        val nbytes = single match {
          case Some((sz, _)) if sz >= 0 => sz // filtered: stored size
          case _ => chunkByteSize.toLong
        }
        emit(originOf(0), addr, nbytes)
      case 2 =>
        require(filters.isEmpty,
          s"dataset $name: implicit chunk index is unfiltered by definition")
        (0 until nChunks).foreach { i =>
          emit(originOf(i), addr + i.toLong * chunkByteSize, chunkByteSize.toLong)
        }
      case 3 =>
        val hc = in.cursor(addr)
        require((0 until 4).map(_ => hc.get().toChar).mkString == "FAHD",
          s"dataset $name: bad fixed-array header signature")
        require(hc.get() == 0, s"dataset $name: FAHD version != 0")
        val clientId = hc.get()
        val entrySize = hc.get() & 0xff
        val pageBits = hc.get() & 0xff
        val maxEntries = hc.getLong()
        val dbAddr = hc.getLong()
        require(maxEntries == nChunks,
          s"dataset $name: fixed array holds $maxEntries entries, grid has $nChunks")
        require((clientId == 0) == filters.isEmpty,
          s"dataset $name: fixed-array client $clientId inconsistent with " +
            s"filter pipeline ${filters.map(_.id).mkString(",")}")
        val db = in.cursor(dbAddr)
        require((0 until 4).map(_ => db.get().toChar).mkString == "FADB",
          s"dataset $name: bad fixed-array data block signature")
        require(db.get() == 0, s"dataset $name: FADB version != 0")
        db.get() // client id (mirrors header)
        db.getLong() // header address
        def entry(i: Int): Unit =
          if (clientId == 0) emit(originOf(i), db.getLong(), chunkByteSize.toLong)
          else {
            val caddr = db.getLong()
            val szLen = entrySize - 8 - 4
            var sz = 0L
            (0 until szLen).foreach(j => sz |= (db.get() & 0xffL) << (8 * j))
            db.getInt() // filter mask (partial pipelines unsupported anyway)
            emit(originOf(i), caddr, sz)
          }
        val pageSize = 1L << pageBits
        if (maxEntries <= pageSize) (0 until nChunks).foreach(entry)
        else {
          // PAGED data block: page bitmap + header checksum, then the
          // element pages each tailed by their own 4-byte checksum
          val nPages = ((maxEntries + pageSize - 1) / pageSize).toInt
          val bitmap = new Array[Byte]((nPages + 7) / 8)
          db.get(bitmap)
          (0 until nPages).foreach { p =>
            require((bitmap(p / 8) & (1 << (p % 8))) != 0,
              s"dataset $name: fixed-array page $p unallocated " +
                "(fill-value reads unsupported)")
          }
          db.getInt() // data-block header checksum
          var i = 0
          (0 until nPages).foreach { p =>
            val inPage = math.min(pageSize, maxEntries - p * pageSize).toInt
            (0 until inPage).foreach { _ => entry(i); i += 1 }
            db.getInt() // per-page checksum
          }
        }
      case 4 =>
        val hc = in.cursor(addr)
        require((0 until 4).map(_ => hc.get().toChar).mkString == "EAHD",
          s"dataset $name: bad extensible-array header signature")
        require(hc.get() == 0, s"dataset $name: EAHD version != 0")
        val clientId = hc.get()
        require((clientId == 0) == filters.isEmpty,
          s"dataset $name: extensible-array client $clientId inconsistent " +
            s"with filter pipeline ${filters.map(_.id).mkString(",")}")
        val elmtSize = hc.get() & 0xff
        val maxBits = hc.get() & 0xff
        val iblkElmts = hc.get() & 0xff
        val minElmts = hc.get() & 0xff
        val minPtrs = hc.get() & 0xff
        val pageBits = hc.get() & 0xff
        val p = EaParams(maxBits, iblkElmts, minPtrs, minElmts, pageBits)
        (0 until 6).foreach(_ => hc.getLong()) // statistics
        val iblkAddr = hc.getLong()
        require(iblkAddr != Undef, s"dataset $name: extensible array has no index block")
        // one chunk-info element = addr (client 0) or addr+size+mask (client 1)
        def readElement(b: H5Cursor): (Long, Long) = {
          val caddr = b.getLong()
          if (clientId == 0) (caddr, chunkByteSize.toLong)
          else {
            val szLen = elmtSize - 8 - 4
            var sz = 0L
            (0 until szLen).foreach(j => sz |= (b.get() & 0xffL) << (8 * j))
            b.getInt() // filter mask
            (caddr, sz)
          }
        }
        val ib = in.cursor(iblkAddr)
        require((0 until 4).map(_ => ib.get().toChar).mkString == "EAIB",
          s"dataset $name: bad extensible-array index block signature")
        require(ib.get() == 0, s"dataset $name: EAIB version != 0")
        ib.get() // client id (mirrors header)
        ib.getLong() // header back-pointer
        val iblkElements = (0 until iblkElmts).map(_ => readElement(ib))
        val iblkDblkAddrs = (0 until p.iblkNdblkAddrs).map(_ => ib.getLong())
        val iblkSblkAddrs = (0 until p.iblkNsblkAddrs).map(_ => ib.getLong())
        // lazily parsed super blocks (row -> data block addresses) and
        // data blocks (file address -> element area offset)
        val sblkCache = scala.collection.mutable.Map[Int, IndexedSeq[Long]]()
        val dblkCache = scala.collection.mutable.Map[Long, Long]()
        def dblkElements(dAddr: Long): Long = dblkCache.getOrElseUpdate(dAddr, {
          val db = in.cursor(dAddr)
          require((0 until 4).map(_ => db.get().toChar).mkString == "EADB",
            s"dataset $name: bad extensible-array data block signature")
          require(db.get() == 0, s"dataset $name: EADB version != 0")
          db.get() // client id
          db.getLong() // header back-pointer
          (0 until p.offSize).foreach(_ => db.get()) // block offset
          db.position()
        })
        (0 until nChunks).foreach { i =>
          val (caddr, nbytes) =
            if (i < iblkElmts) iblkElements(i)
            else {
              val (u, dblkInRow, off) = p.locate(i.toLong - iblkElmts)
              val dAddr =
                if (u < p.iblkNsblks) iblkDblkAddrs(p.rowStartDblk(u) + dblkInRow)
                else {
                  val dblkAddrs = sblkCache.getOrElseUpdate(u, {
                    val sAddr = iblkSblkAddrs(u - p.iblkNsblks)
                    require(sAddr != Undef,
                      s"dataset $name: chunk $i needs an unallocated super block")
                    val sb = in.cursor(sAddr)
                    require((0 until 4).map(_ => sb.get().toChar).mkString == "EASB",
                      s"dataset $name: bad extensible-array super block signature")
                    require(sb.get() == 0, s"dataset $name: EASB version != 0")
                    sb.get() // client id
                    sb.getLong() // header back-pointer
                    (0 until p.offSize).foreach(_ => sb.get()) // block offset
                    if (p.dblkPaged(u)) {
                      // page-init bitmap: one bit per page across the
                      // row's data blocks (all set — every chunk written)
                      val bits = p.rowNdblks(u) * p.dblkNpages(u)
                      (0 until (bits + 7) / 8).foreach(_ => sb.get())
                    }
                    (0 until p.rowNdblks(u)).map(_ => sb.getLong())
                  })
                  dblkAddrs(dblkInRow)
                }
              require(dAddr != Undef,
                s"dataset $name: chunk $i unallocated (fill-value reads unsupported)")
              val ebase = dblkElements(dAddr)
              val eb =
                if (!p.dblkPaged(u)) in.cursor(ebase + off * elmtSize)
                else {
                  // PAGED data block: the prefix ends with the block's own
                  // checksum; pages follow contiguously, each = pageNelmts
                  // elements + a 4-byte page checksum
                  val pg = off / p.pageNelmts
                  val inPg = off % p.pageNelmts
                  in.cursor(ebase + 4 + pg.toLong * (p.pageNelmts * elmtSize + 4) +
                    inPg.toLong * elmtSize)
                }
              readElement(eb)
            }
          require(caddr != Undef,
            s"dataset $name: chunk $i unallocated (fill-value reads unsupported)")
          emit(originOf(i), caddr, nbytes)
        }
      case 5 =>
        // v2 B-tree chunk index — what libhdf5 emits when MORE THAN ONE
        // dimension is unlimited. Record type 10 (unfiltered: address +
        // per-dim scaled offsets) or 11 (filtered: address + stored size
        // + filter mask + scaled offsets); node layout as in the
        // link-name index (BTLF leaves, BTIN internal, ANY depth).
        val bt = in.cursor(addr)
        require((0 until 4).map(_ => bt.get().toChar).mkString == "BTHD",
          s"dataset $name: bad v2 B-tree chunk-index header signature")
        require(bt.get() == 0, s"dataset $name: BTHD version != 0")
        val btype = bt.get()
        require(btype == 10 || btype == 11,
          s"dataset $name: v2 B-tree record type $btype (expected 10/11: dataset chunks)")
        require((btype == 10) == filters.isEmpty,
          s"dataset $name: v2 B-tree record type $btype inconsistent with " +
            s"filter pipeline ${filters.map(_.id).mkString(",")}")
        val nodeSize = bt.getInt()
        val recSize = bt.getShort() & 0xffff
        val depth = bt.getShort() & 0xffff
        bt.get(); bt.get() // split/merge percents
        val rootNodeAddr = bt.getLong()
        val rootNRec = bt.getShort() & 0xffff
        val totalNRec = bt.getLong()
        require(totalNRec == nChunks,
          s"dataset $name: v2 B-tree holds $totalNRec records, grid has " +
            s"$nChunks chunks (fill-value reads unsupported)")
        val szLen = recSize - 8 - 4 - 8 * nd // filtered records only
        if (btype == 11) require(szLen >= 1 && szLen <= 8,
          s"dataset $name: v2 B-tree record size $recSize inconsistent with rank $nd")
        else require(recSize == 8 + 8 * nd,
          s"dataset $name: v2 B-tree record size $recSize != ${8 + 8 * nd} for rank $nd")
        val geom = bt2Geom(nodeSize, recSize, depth)
        def readRecord(b: H5Cursor): Unit = {
          val caddr = b.getLong()
          var sz = chunkByteSize.toLong
          if (btype == 11) {
            sz = 0L
            (0 until szLen).foreach(j => sz |= (b.get() & 0xffL) << (8 * j))
            b.getInt() // filter mask (partial pipelines unsupported anyway)
          }
          val origin = chunkDims.map(c => b.getLong() * c)
          require(caddr != Undef,
            s"dataset $name: unallocated chunk record (fill-value reads unsupported)")
          emit(origin, caddr, sz)
        }
        def walk(nAddr: Long, nrec: Int, d: Int): Unit = {
          val nb = in.cursor(nAddr)
          val sig = (0 until 4).map(_ => nb.get().toChar).mkString
          require(nb.get() == 0, s"dataset $name: v2 B-tree node version != 0")
          nb.get() // record type (mirrors the header)
          if (d == 0) {
            require(sig == "BTLF", s"dataset $name: expected leaf BTLF, got $sig")
            (0 until nrec).foreach(_ => readRecord(nb))
          } else {
            require(sig == "BTIN", s"dataset $name: expected internal BTIN, got $sig")
            // nrec records, then nrec+1 child pointers (addr + child record
            // count + subtree total below depth 1 — geometry per bt2Geom)
            val recPos = nb.position()
            nb.position(recPos + nrec.toLong * recSize)
            val children = (0 until nrec + 1).map { _ =>
              val a = nb.getLong()
              var cn = 0L
              (0 until geom.maxNrecSize).foreach(i => cn |= (nb.get() & 0xffL) << (8 * i))
              if (d - 1 > 0) (0 until geom.cumSizes(d - 1)).foreach(_ => nb.get())
              (a, cn.toInt)
            }
            children.foreach { case (ca, cn) => walk(ca, cn, d - 1) }
            nb.position(recPos)
            (0 until nrec).foreach(_ => readRecord(nb))
          }
        }
        walk(rootNodeAddr, rootNRec, depth)
    }
  }

  // ---------------------------------------------------------------- writer

  /** Writer-side attribute specs (v0 path): enough to build the
    * netCDF-4 store shape — numeric/string CF attrs plus the
    * DIMENSION_LIST vlen-of-object-reference dimension scales. */
  sealed trait WAttr { def name: String }
  final case class WAttrDouble(name: String, values: Seq[Double]) extends WAttr
  final case class WAttrLong(name: String, values: Seq[Long]) extends WAttr
  final case class WAttrString(name: String, value: String) extends WAttr
  /** netCDF-4 `DIMENSION_LIST`: per axis, the dim-scale dataset it
    * references (a sibling [[DsSpec]] name in the same write call). */
  final case class WAttrDimList(name: String, targets: Seq[String]) extends WAttr

  /** chunkDims = None -> contiguous storage; Some(dims) -> chunked (with
    * optional deflate), full chunks padded with 0.0 at ragged edges as
    * libhdf5 stores them. */
  final case class DsSpec(name: String, dims: Seq[Long], data: Array[Double],
      chunkDims: Option[Seq[Int]] = None, compact: Boolean = false,
      attrs: Seq[WAttr] = Nil)

  /** Raster doubles in the requested byte order (the master buffer
    * stays LE for all structural fields). */
  private def putRaster(out: ByteBuffer, s: DsSpec, bigEndian: Boolean): Unit = {
    if (bigEndian) out.order(ByteOrder.BIG_ENDIAN)
    s.data.foreach(out.putDouble)
    if (bigEndian) out.order(ByteOrder.LITTLE_ENDIAN)
  }

  /** Serialized payload of one full chunk, run through the filter
    * pipeline in order (1 = deflate, 2 = shuffle). */
  private def chunkPayload(s: DsSpec, cd: Seq[Int], origin: Seq[Long],
      filters: Seq[H5Filter]): Array[Byte] = {
    val rank = cd.size
    val dims = s.dims.map(_.toInt)
    val strides = new Array[Long](rank)
    var acc = 1L
    for (k <- (rank - 1) to 0 by -1) { strides(k) = acc; acc *= dims(k) }
    val n = cd.product
    val bb = ByteBuffer.allocate(n * 8).order(ByteOrder.LITTLE_ENDIAN)
    var ci = 0
    while (ci < n) {
      var rem = ci; var inBounds = true; var globalIdx = 0L
      var k = rank - 1
      while (k >= 0) {
        val local = rem % cd(k)
        rem /= cd(k)
        val g = origin(k) + local
        if (g >= dims(k)) inBounds = false
        globalIdx += g * strides(k)
        k -= 1
      }
      bb.putDouble(if (inBounds) s.data(globalIdx.toInt) else 0.0)
      ci += 1
    }
    val raw = bb.array()
    filters.foldLeft(raw) { (acc, f) =>
      f.id match {
        case 3 => // fletcher32: append the LE uint32 checksum
          val out = java.util.Arrays.copyOf(acc, acc.length + 4)
          val c = fletcher32(acc, acc.length)
          out(acc.length) = (c & 0xff).toByte
          out(acc.length + 1) = ((c >> 8) & 0xff).toByte
          out(acc.length + 2) = ((c >> 16) & 0xff).toByte
          out(acc.length + 3) = ((c >> 24) & 0xff).toByte
          out
        case 2 => shuffleBytes(acc, 8)
        case 1 =>
          val d = new java.util.zip.Deflater()
          d.setInput(acc); d.finish()
          val outBuf = new java.io.ByteArrayOutputStream()
          val tmp = new Array[Byte](8192)
          while (!d.finished()) outBuf.write(tmp, 0, d.deflate(tmp))
          d.end()
          outBuf.toByteArray
        case 6 => soEncodeF64(acc, f.cd(1))
      }
    }
  }

  /** Forward H5Z_SO_FLOAT_DSCALE over an f64 chunk: sv = llround(v*10^D
    * - min*10^D) packed MSB-first at ceil(log2(max_sv + 1)) bits behind
    * the 13-byte minbits/minval header. LOSSY at D decimals by design
    * (the climate-data trick); when the scaled span needs > 53 bits —
    * exactness would be lost anyway — falls back to the full-precision
    * raw store (minbits = 64), which is lossless. */
  private[sources] def soEncodeF64(raw: Array[Byte], d: Int): Array[Byte] = {
    val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
    val n = raw.length / 8
    val vals = Array.tabulate(n)(i => bb.getDouble(i * 8))
    val pow10 = math.pow(10.0, d.toDouble)
    val min = vals.min
    val sv = vals.map(v => math.round(v * pow10 - min * pow10))
    val maxSv = if (n == 0) 0L else sv.max
    def ceilLog2(x: Long): Int = if (x <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
    val minbits = ceilLog2(maxSv + 1)
    val hdr = new Array[Byte](13)
    def putMin(mb: Int, mv: Long): Unit = {
      hdr(0) = (mb & 0xff).toByte; hdr(1) = ((mb >> 8) & 0xff).toByte
      hdr(2) = 0; hdr(3) = 0; hdr(4) = 8
      var k = 0
      while (k < 8) { hdr(5 + k) = ((mv >>> (8 * k)) & 0xff).toByte; k += 1 }
    }
    if (minbits > 53) { // raw full-precision store (lossless fallback)
      putMin(64, 0L)
      val out = new Array[Byte](13 + raw.length)
      System.arraycopy(hdr, 0, out, 0, 13)
      System.arraycopy(raw, 0, out, 13, raw.length)
      return out
    }
    putMin(minbits, java.lang.Double.doubleToRawLongBits(min))
    if (minbits == 0) return hdr
    // MSB-first bit packing (the H5Z one_byte scheme)
    val nBits = n.toLong * minbits
    val out = new Array[Byte](13 + ((nBits + 7) / 8).toInt)
    System.arraycopy(hdr, 0, out, 0, 13)
    var bitPos = 0L
    var i = 0
    while (i < n) {
      var b = minbits - 1
      while (b >= 0) {
        if (((sv(i) >> b) & 1L) != 0) {
          val p = 13 * 8 + bitPos
          out((p >> 3).toInt) = (out((p >> 3).toInt) | (0x80 >> (p & 7).toInt)).toByte
        }
        bitPos += 1
        b -= 1
      }
      i += 1
    }
    out
  }

  /** Write a minimal HDF5 file: one root group, float64 datasets —
    * contiguous by default, chunked (+deflate) per DsSpec.chunkDims.
    * Layout: superblock / root header / heap / btree / snod /
    * per-dataset (header, [chunk-btree + chunks | data]). */
  def write(specs: Seq[DsSpec], deflate: Boolean = false,
      bigEndian: Boolean = false,
      scaleOffsetD: Option[Int] = None): Array[Byte] = {
    require(specs.nonEmpty, "at least one dataset")
    // BE fixtures cover the storage real legacy big-iron files have
    // (classic contiguous/compact rasters); chunked BE is out of scope
    require(!bigEndian || specs.forall(_.chunkDims.isEmpty),
      "bigEndian supports contiguous/compact datasets only")
    require(scaleOffsetD.forall(d => d >= 0 && d <= 15),
      "scale-offset decimal factor out of range")
    // per-dataset pipeline: scale-offset (D-scale, LOSSY at D decimals;
    // cd nelmts is the full chunk element count) then optional deflate
    def dsFilters(s: DsSpec): Seq[H5Filter] = s.chunkDims match {
      case Some(cd) =>
        scaleOffsetD.map(d => H5Filter(6,
          Seq(0, d, cd.product, 1, 8, 0, 0, 0, 0, 0))).toSeq ++
          (if (deflate) Seq(H5Filter(1, Seq(6))) else Nil)
      case None => Nil
    }
    // v1 pipeline message length: 8-byte header + per-record 8 + cd
    // words (odd counts pad one word); always a multiple of 8
    def pipeMsgLen(fs: Seq[H5Filter]): Int =
      8 + fs.map(f => 8 + 4 * (f.cd.size + (f.cd.size % 2))).sum
    // v1 attribute message body: 8-byte prefix + name/datatype/dataspace
    // each padded to 8 + data padded to 8 (dataspace is always v1 rank-1)
    def p8i(x: Int): Int = (x + 7) & ~7
    def attrDtDataLen(a: WAttr): (Int, Int) = a match {
      case WAttrDouble(_, vs) => (20, 8 * vs.size)
      case WAttrLong(_, vs) => (12, 8 * vs.size)
      case WAttrString(_, v) => (8, v.getBytes("UTF-8").length + 1)
      case WAttrDimList(_, ts) => (16, 16 * ts.size)
    }
    def attrMsgLen(a: WAttr): Int = {
      val (dtLen, dataLen) = attrDtDataLen(a)
      8 + p8i(a.name.getBytes("UTF-8").length + 1) + p8i(dtLen) + 16 + p8i(dataLen)
    }
    def attrsLen(s: DsSpec): Long = s.attrs.map(a => 8L + attrMsgLen(a)).sum
    val sorted = specs.sortBy(_.name) // SNOD entries must be name-ordered
    sorted.foreach(s => s.attrs.collect { case WAttrDimList(_, ts) => ts }.flatten
      .foreach(t => require(specs.exists(_.name == t),
        s"${s.name}: DIMENSION_LIST target '$t' is not a dataset in this write")))
    // ---- group tree from '/'-separated dataset names -------------------
    // Each group (root included) owns a v0 symbol-table quartet: object
    // header + local heap (child leaf names) + a one-leaf B-tree + one
    // SNOD — the netCDF-4 group shape at this writer's scale.
    final class GNode(val path: String) {
      val subs = scala.collection.mutable.SortedMap.empty[String, GNode]
      val ds = scala.collection.mutable.ArrayBuffer.empty[DsSpec]
      /** (leaf name, full path, isGroup), SNOD name order. */
      def children: Seq[(String, String, Boolean)] =
        (subs.keys.map(k => (k, if (path.isEmpty) k else s"$path/$k", true)) ++
          ds.map(s => (s.name.split('/').last, s.name, false))).toSeq.sortBy(_._1)
    }
    val rootG = new GNode("")
    sorted.foreach { s =>
      val segs = s.name.split('/')
      require(segs.forall(_.nonEmpty), s"invalid dataset path '${s.name}'")
      var g = rootG
      segs.dropRight(1).foreach { seg =>
        g = g.subs.getOrElseUpdate(seg,
          new GNode(if (g.path.isEmpty) seg else s"${g.path}/$seg"))
      }
      g.ds += s
    }
    val groups: Seq[GNode] = { // BFS, root first
      val q = scala.collection.mutable.Queue(rootG)
      val acc = Seq.newBuilder[GNode]
      while (q.nonEmpty) { val g = q.dequeue(); acc += g; g.subs.values.foreach(q.enqueue) }
      acc.result()
    }
    groups.foreach { g =>
      val names = g.children.map(_._1)
      require(names.distinct.size == names.size,
        s"group '${g.path}': a subgroup and a dataset share a name")
    }
    // ---- layout computation (all sections 8-aligned)
    val superblockLen = 96
    def align8(x: Long): Long = (x + 7) & ~7L
    // per-group quartet addresses; root's header lands at superblockLen
    var cursor: Long = superblockLen
    val gHeader = scala.collection.mutable.Map[String, Long]()
    val gHeap = scala.collection.mutable.Map[String, Long]()
    val gHeapData = scala.collection.mutable.Map[String, Long]()
    val gBtree = scala.collection.mutable.Map[String, Long]()
    val gSnod = scala.collection.mutable.Map[String, Long]()
    // (group path, leaf name) -> local-heap name offset
    val nameOffsets = scala.collection.mutable.Map[(String, String), Long]()
    groups.foreach { g =>
      gHeader(g.path) = cursor
      cursor += 16 + 8 + 16 // prefix + msg header + symtab msg
      gHeap(g.path) = cursor
      val heapHeaderLen = 32
      gHeapData(g.path) = cursor + heapHeaderLen
      // heap data: 8 reserved bytes (offset 0 = empty name), then names
      var heapCursor = 8L
      g.children.foreach { case (leaf, _, _) =>
        nameOffsets((g.path, leaf)) = heapCursor
        // slot size from the UTF-8 BYTE length (written below), not the
        // UTF-16 char count — non-ASCII names would overrun their slot
        heapCursor = align8(heapCursor + leaf.getBytes("UTF-8").length + 1)
      }
      cursor += heapHeaderLen + heapCursor
      gBtree(g.path) = cursor
      cursor += align8(24 + 2 * 8 + 8) // header + 1 (key,child) + final key
      gSnod(g.path) = cursor
      cursor += align8(8 + 40L * g.children.size)
    }
    // per-dataset: object header then data / chunk-btree + chunks
    val headerAddrs = scala.collection.mutable.Map[String, Long]()
    val dataAddrs = scala.collection.mutable.Map[String, Long]()
    val chunkBtreeAddrs = scala.collection.mutable.Map[String, Long]()
    // name -> (origin, payload, address) per chunk
    val chunkPlans = scala.collection.mutable.Map[String, Seq[(Seq[Long], Array[Byte], Long)]]()
    def cross(ls: Seq[Seq[Long]]): Seq[Seq[Long]] =
      ls.foldLeft(Seq(Seq.empty[Long]))((acc, l) => for (a <- acc; x <- l) yield a :+ x)
    sorted.foreach { s =>
      val rank = s.dims.size
      val spaceMsg = align8(8 + 8L * rank)
      headerAddrs(s.name) = cursor
      s.chunkDims match {
        case None if s.compact =>
          require(8L * s.data.length <= 0xffff,
            s"${s.name}: compact storage is capped at 64 KiB")
          val layoutMsg = align8(4 + 8L * s.data.length)
          cursor += 16 + (8 + spaceMsg) + (8 + 24) + attrsLen(s) + (8 + layoutMsg)
        case None =>
          val headerLen = 16 + (8 + spaceMsg) + (8 + 24) + attrsLen(s) + (8 + 24)
          dataAddrs(s.name) = cursor + headerLen
          cursor = dataAddrs(s.name) + align8(8L * s.data.length)
        case Some(cd) =>
          require(!s.compact, s"${s.name}: compact excludes chunked layout")
          require(cd.size == rank, s"${s.name}: chunk rank != dataset rank")
          val layoutMsg = align8(3 + 8 + 4L * (rank + 1))
          val fs = dsFilters(s)
          val headerLen = 16 + (8 + spaceMsg) + (8 + 24) + attrsLen(s) + (8 + layoutMsg) +
            (if (fs.nonEmpty) 8 + pipeMsgLen(fs) else 0)
          val btreeAddr = cursor + headerLen
          chunkBtreeAddrs(s.name) = btreeAddr
          val origins = cross(cd.zip(s.dims).map { case (c, d) =>
            0L.until(d).by(c.toLong) })
          require(origins.size <= 128, s"${s.name}: >128 chunks needs a multi-node B-tree")
          val keySize = 8 + 8 * (rank + 1)
          val btreeLen = align8(24L + origins.size * (keySize + 8) + keySize)
          var caddr = btreeAddr + btreeLen
          chunkPlans(s.name) = origins.map { o =>
            val payload = chunkPayload(s, cd, o, fs)
            val a = caddr
            caddr = align8(caddr + payload.length)
            (o, payload, a)
          }
          cursor = caddr
      }
    }
    // ---- global heap: one GCOL holding every DIMENSION_LIST element's
    // reference array (one object per axis, 1-based indexes file-wide)
    val dimListRefs: Seq[((String, String, Int), String)] = sorted.flatMap(s =>
      s.attrs.collect { case WAttrDimList(an, ts) =>
        ts.zipWithIndex.map { case (t, k) => ((s.name, an, k), t) }
      }.flatten)
    val gheapIdx: Map[(String, String, Int), Int] =
      dimListRefs.zipWithIndex.map { case ((key, _), i) => key -> (i + 1) }.toMap
    val gcolAddr = cursor
    if (dimListRefs.nonEmpty) cursor += 16L + dimListRefs.size * 24L + 16L
    val total = cursor
    require(total <= Int.MaxValue, s"HDF5 export of $total bytes exceeds builder limit")
    val out = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)

    // ---- superblock
    out.put(Signature)
    out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
    out.put(0.toByte) // shared header version
    out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putShort(4); out.putShort(16) // group leaf/internal k
    out.putInt(0) // flags
    out.putLong(0L) // base
    out.putLong(Undef) // freespace
    out.putLong(total) // eof
    out.putLong(Undef) // driver info
    // root symbol table entry
    out.putLong(0L) // link name offset
    out.putLong(superblockLen.toLong) // root object header addr
    out.putInt(0); out.putInt(0)
    (0 until 16).foreach(_ => out.put(0.toByte))

    // ---- group quartets (header + local heap + B-tree + SNOD), BFS
    groups.foreach { g =>
      val children = g.children
      out.position(gHeader(g.path).toInt)
      out.put(1.toByte); out.put(0.toByte)
      out.putShort(1)
      out.putInt(1)
      out.putInt(8 + 16) // header size
      out.putInt(0) // alignment pad
      out.putShort(0x0011); out.putShort(16)
      out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
      out.putLong(gBtree(g.path)); out.putLong(gHeap(g.path))

      // local heap (child leaf names)
      out.position(gHeap(g.path).toInt)
      val heapDataLen = children.lastOption
        .map { case (leaf, _, _) =>
          align8(nameOffsets((g.path, leaf)) + leaf.getBytes("UTF-8").length + 1) }
        .getOrElse(8L)
      out.put('H'.toByte); out.put('E'.toByte); out.put('A'.toByte); out.put('P'.toByte)
      out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
      out.putLong(heapDataLen)
      out.putLong(Undef) // free list: none
      out.putLong(gHeapData(g.path))
      children.foreach { case (leaf, _, _) =>
        out.position((gHeapData(g.path) + nameOffsets((g.path, leaf))).toInt)
        out.put(leaf.getBytes("UTF-8")); out.put(0.toByte)
      }

      // B-tree (one leaf with one SNOD child)
      out.position(gBtree(g.path).toInt)
      out.put('T'.toByte); out.put('R'.toByte); out.put('E'.toByte); out.put('E'.toByte)
      out.put(0.toByte) // node type: group
      out.put(0.toByte) // level: leaf
      out.putShort(1) // entries used
      out.putLong(Undef); out.putLong(Undef) // siblings
      out.putLong(0L) // key 0: empty name (offset 0)
      out.putLong(gSnod(g.path)) // child 0
      out.putLong(children.lastOption // key 1: largest name
        .map { case (leaf, _, _) => nameOffsets((g.path, leaf)) }.getOrElse(0L))

      // SNOD
      out.position(gSnod(g.path).toInt)
      out.put('S'.toByte); out.put('N'.toByte); out.put('O'.toByte); out.put('D'.toByte)
      out.put(1.toByte); out.put(0.toByte)
      out.putShort(children.size.toShort)
      children.foreach { case (leaf, full, isGroup) =>
        out.putLong(nameOffsets((g.path, leaf)))
        out.putLong(if (isGroup) gHeader(full) else headerAddrs(full))
        out.putInt(0); out.putInt(0)
        (0 until 16).foreach(_ => out.put(0.toByte))
      }
    }

    // ---- datasets
    sorted.foreach { s =>
      require(s.data.length.toLong == s.dims.product,
        s"dataset ${s.name}: data length ${s.data.length} != ${s.dims.product}")
      val rank = s.dims.size
      out.position(headerAddrs(s.name).toInt)
      val spaceMsg = align8(8 + 8L * rank).toInt
      val layoutMsg = s.chunkDims match {
        case None if s.compact => align8(4 + 8L * s.data.length).toInt
        case None => 24
        case Some(_) => align8(3 + 8 + 4L * (rank + 1)).toInt
      }
      val fs = dsFilters(s)
      val hasFilter = fs.nonEmpty
      val nMsg = 3 + (if (hasFilter) 1 else 0) + s.attrs.size
      out.put(1.toByte); out.put(0.toByte)
      out.putShort(nMsg.toShort)
      out.putInt(1)
      out.putInt(((8 + spaceMsg) + (8 + 24) + attrsLen(s) + (8 + layoutMsg) +
        (if (hasFilter) 8 + pipeMsgLen(fs) else 0)).toInt)
      out.putInt(0)
      // dataspace v1
      out.putShort(0x0001); out.putShort(spaceMsg.toShort)
      out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
      out.put(1.toByte) // version
      out.put(rank.toByte)
      out.put(0.toByte) // flags: no maxdims
      out.put(0.toByte); out.putInt(0)
      s.dims.foreach(out.putLong)
      out.position((headerAddrs(s.name) + 16 + 8 + spaceMsg).toInt)
      // datatype: IEEE float64 (bit 0 of the class bit field = byte order)
      out.putShort(0x0003); out.putShort(24)
      out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
      out.put(((1 << 4) | 1).toByte) // version 1, class 1 (float)
      out.put((0x20 | (if (bigEndian) 1 else 0)).toByte) // order, msb-implied norm
      out.put(63.toByte) // sign bit location
      out.put(0.toByte)
      out.putInt(8) // size
      out.putShort(0) // bit offset
      out.putShort(64) // precision
      out.put(52.toByte); out.put(11.toByte) // exponent loc/size
      out.put(0.toByte); out.put(52.toByte) // mantissa loc/size
      out.putInt(1023) // exponent bias
      out.putInt(0) // pad to 24
      // attribute messages (v1: name/datatype/dataspace padded to 8)
      s.attrs.foreach { a =>
        out.putShort(0x000C); out.putShort(attrMsgLen(a).toShort)
        out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
        val nameB = a.name.getBytes("UTF-8")
        val dtLen = attrDtDataLen(a)._1
        val n = a match {
          case WAttrDouble(_, vs) => vs.size
          case WAttrLong(_, vs) => vs.size
          case WAttrString(_, _) => 1
          case WAttrDimList(_, ts) => ts.size
        }
        out.put(1.toByte); out.put(0.toByte) // version 1, reserved
        out.putShort((nameB.length + 1).toShort)
        out.putShort(dtLen.toShort)
        out.putShort(16.toShort) // dataspace v1, rank 1
        def padField(start: Int): Unit =
          while ((out.position() - start) % 8 != 0) out.put(0.toByte)
        var fieldStart = out.position()
        out.put(nameB); out.put(0.toByte)
        padField(fieldStart)
        fieldStart = out.position()
        a match {
          case WAttrDouble(_, _) => // IEEE float64 LE (8 hdr + 12 props)
            out.put(((1 << 4) | 1).toByte); out.put(0x20.toByte)
            out.put(63.toByte); out.put(0.toByte)
            out.putInt(8)
            out.putShort(0); out.putShort(64)
            out.put(52.toByte); out.put(11.toByte)
            out.put(0.toByte); out.put(52.toByte)
            out.putInt(1023)
          case WAttrLong(_, _) => // signed int64 LE (8 hdr + 4 props)
            out.put((1 << 4).toByte); out.put(0x08.toByte)
            out.put(0.toByte); out.put(0.toByte)
            out.putInt(8)
            out.putShort(0); out.putShort(64)
          case WAttrString(_, v) => // fixed-size NUL-terminated string
            out.put(((1 << 4) | 3).toByte); out.put(0.toByte)
            out.put(0.toByte); out.put(0.toByte)
            out.putInt(v.getBytes("UTF-8").length + 1)
          case WAttrDimList(_, _) => // vlen sequence of object references
            out.put(((1 << 4) | 9).toByte); out.put(0.toByte)
            out.put(0.toByte); out.put(0.toByte)
            out.putInt(16) // on-disk vlen element size
            out.put(((1 << 4) | 7).toByte); out.put(0.toByte) // base: object ref
            out.put(0.toByte); out.put(0.toByte)
            out.putInt(8)
        }
        padField(fieldStart)
        // dataspace v1, rank 1
        out.put(1.toByte); out.put(1.toByte); out.put(0.toByte)
        out.put(0.toByte); out.putInt(0)
        out.putLong(n.toLong)
        fieldStart = out.position()
        a match {
          case WAttrDouble(_, vs) => vs.foreach(out.putDouble)
          case WAttrLong(_, vs) => vs.foreach(out.putLong)
          case WAttrString(_, v) => out.put(v.getBytes("UTF-8")); out.put(0.toByte)
          case WAttrDimList(an, ts) => ts.indices.foreach { k =>
            out.putInt(1) // one reference on this axis
            out.putLong(gcolAddr)
            out.putInt(gheapIdx((s.name, an, k)))
          }
        }
        padField(fieldStart)
      }
      s.chunkDims match {
        case None if s.compact =>
          // layout v3 compact: size + raw doubles inline in the message
          out.putShort(0x0008); out.putShort(layoutMsg.toShort)
          out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
          val layoutStart = out.position()
          out.put(3.toByte); out.put(0.toByte)
          out.putShort((8 * s.data.length).toShort)
          putRaster(out, s, bigEndian)
          out.position(layoutStart + layoutMsg)
        case None =>
          // layout v3 contiguous
          out.putShort(0x0008); out.putShort(24)
          out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
          out.put(3.toByte); out.put(1.toByte)
          out.putLong(dataAddrs(s.name))
          out.putLong(8L * s.data.length)
          out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
          out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
          out.position(dataAddrs(s.name).toInt)
          putRaster(out, s, bigEndian)
        case Some(cd) =>
          // layout v3 chunked
          out.putShort(0x0008); out.putShort(layoutMsg.toShort)
          out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
          val layoutStart = out.position()
          out.put(3.toByte); out.put(2.toByte)
          out.put((rank + 1).toByte)
          out.putLong(chunkBtreeAddrs(s.name))
          cd.foreach(out.putInt)
          out.putInt(8) // element size "dimension"
          out.position(layoutStart + layoutMsg)
          if (hasFilter) {
            // filter pipeline v1: records in write order, odd client
            // counts padded to an even word boundary
            out.putShort(0x000B); out.putShort(pipeMsgLen(fs).toShort)
            out.put(0.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
            out.put(1.toByte); out.put(fs.size.toByte) // version, nfilters
            out.putShort(0); out.putInt(0) // reserved
            fs.foreach { f =>
              out.putShort(f.id.toShort)
              out.putShort(0) // name length
              out.putShort(0) // flags
              out.putShort(f.cd.size.toShort)
              f.cd.foreach(out.putInt)
              if (f.cd.size % 2 == 1) out.putInt(0) // pad to even
            }
          }
          // chunk B-tree: one leaf, name-ordered entries + final key
          val chunks = chunkPlans(s.name)
          out.position(chunkBtreeAddrs(s.name).toInt)
          out.put('T'.toByte); out.put('R'.toByte); out.put('E'.toByte); out.put('E'.toByte)
          out.put(1.toByte) // node type: raw data chunks
          out.put(0.toByte) // leaf
          out.putShort(chunks.size.toShort)
          out.putLong(Undef); out.putLong(Undef)
          chunks.foreach { case (origin, payload, addr) =>
            out.putInt(payload.length)
            out.putInt(0) // filter mask
            origin.foreach(out.putLong)
            out.putLong(0L) // element-size dim offset
            out.putLong(addr)
          }
          // final key: the past-the-end chunk coordinates
          out.putInt(0); out.putInt(0)
          s.dims.foreach(out.putLong)
          out.putLong(0L)
          chunks.foreach { case (_, payload, addr) =>
            out.position(addr.toInt)
            out.put(payload)
          }
      }
    }
    // ---- global heap collection (DIMENSION_LIST reference arrays)
    if (dimListRefs.nonEmpty) {
      out.position(gcolAddr.toInt)
      out.put('G'.toByte); out.put('C'.toByte); out.put('O'.toByte); out.put('L'.toByte)
      out.put(1.toByte); out.put(0.toByte); out.put(0.toByte); out.put(0.toByte)
      out.putLong(16L + dimListRefs.size * 24L + 16L) // incl. this header
      dimListRefs.zipWithIndex.foreach { case ((_, target), i) =>
        out.putShort((i + 1).toShort) // heap object index
        out.putShort(1) // reference count
        out.putInt(0)
        out.putLong(8L) // object size: one object reference
        out.putLong(headerAddrs(target))
      }
      // free-space terminator (index 0, size = its own header)
      out.putShort(0); out.putShort(0); out.putInt(0); out.putLong(16L)
    }
    out.array()
  }

  /** Write the "latest"-generation layout: v3 superblock, v2 ("OHDR")
    * object headers, NEW-STYLE compact root group (Link Info + Link
    * messages; links beyond the first spill into an OCHK continuation
    * block, exercising that decode path), v2 dataspace messages, v2
    * filter pipelines with optional shuffle+deflate. Checksums are
    * emitted as zero (the reader skips them — see the object doc). */
  def writeLatest(specs: Seq[DsSpec], deflate: Boolean = false,
      shuffle: Boolean = false, btreeLeafCap: Int = Int.MaxValue,
      fletcher: Boolean = false): Array[Byte] =
    writeNewStyle(specs, deflate, shuffle, denseRoot = false,
      smallHeapBlocks = false, v1LeafCap = btreeLeafCap, fletcher = fletcher)

  /** Write the DENSE-root-group variant of [[writeLatest]]: the root
    * OHDR holds ONLY a Link Info message; links live as fractal-heap
    * objects indexed by a name v2 B-tree — the shape libhdf5 switches to
    * above the compact limit (any netCDF-4 file with many variables).
    * `smallBlocks = true` shrinks the heap/B-tree parameters so the file
    * exercises the multi-direct-block root INDIRECT block and a DEEP
    * B-tree (depth 1 past 6 links, depth 2 past 20 — bt2Build plans any
    * depth); default parameters emit
    * one root direct block and a single-leaf (depth-0) tree. Record
    * hashes are a deterministic surrogate (real files use lookup3; the
    * reader never interprets hashes, only record order). */
  def writeDense(specs: Seq[DsSpec], deflate: Boolean = false,
      shuffle: Boolean = false, smallBlocks: Boolean = false): Array[Byte] =
    writeNewStyle(specs, deflate, shuffle, denseRoot = true, smallHeapBlocks = smallBlocks)

  /** [[writeLatest]] but chunked datasets use LAYOUT-V4 chunk indexes
    * (what libhdf5 emits under libver >= v110): Single Chunk for
    * one-chunk datasets, Implicit for unfiltered grids, Fixed Array
    * (client 1) for filtered grids — or Fixed Array for EVERYTHING when
    * `fixedArrayAlways` (covering the client-0 path). */
  def writeLatestV4(specs: Seq[DsSpec], deflate: Boolean = false,
      shuffle: Boolean = false, fixedArrayAlways: Boolean = false,
      faPageBits: Int = 16, fletcher: Boolean = false): Array[Byte] =
    writeNewStyle(specs, deflate, shuffle, denseRoot = false,
      smallHeapBlocks = false, v4Chunks = true, v4FixedArrayAlways = fixedArrayAlways,
      faPageBits = faPageBits, fletcher = fletcher)

  /** [[writeLatestV4]] but every chunked dataset carries an UNLIMITED
    * slowest dimension (maxdims sentinel in the dataspace) and an
    * Extensible Array chunk index — the layout libhdf5/netCDF-4 emit for
    * appended record (time) dimensions (`nc_def_dim(.., NC_UNLIMITED)`).
    * `ea` tunes the creation parameters; the defaults are libhdf5's, and
    * small values force on-disk EASB super blocks. */
  def writeUnlimited(specs: Seq[DsSpec], deflate: Boolean = false,
      shuffle: Boolean = false, ea: EaParams = EaParams()): Array[Byte] =
    writeNewStyle(specs, deflate, shuffle, denseRoot = false,
      smallHeapBlocks = false, v4Chunks = true, v4Extensible = true, eaParams = ea)

  /** [[writeLatestV4]] but every chunked dataset carries ALL-UNLIMITED
    * maxdims and a VERSION 2 B-TREE chunk index (record type 10
    * unfiltered / 11 filtered) — the index libhdf5 picks when more than
    * one dimension is unlimited. Small `nodeSize` forces deep trees
    * (BTIN root over BTIN/BTLF — any depth); the default fits one leaf. */
  def writeBtree2(specs: Seq[DsSpec], deflate: Boolean = false,
      shuffle: Boolean = false, nodeSize: Int = 2048): Array[Byte] =
    writeNewStyle(specs, deflate, shuffle, denseRoot = false,
      smallHeapBlocks = false, v4Chunks = true, v4Btree2 = true,
      bt2NodeSize = nodeSize)

  /** Internal-node spec of the v1 chunk B-tree writer: the chunk range
    * a node spans and its child range in the level below (chunk indices
    * at the leaf level, node indices above). */
  private final case class BtNodeSpec(chunkStart: Int, chunkEnd: Int,
    childStart: Int, childEnd: Int)

  /** Bottom-up level construction for a v1 chunk B-tree over `n` chunks
    * with at most `cap` entries per node; head = root level (1 node),
    * last = leaves. cap >= n collapses to the single-leaf shape. */
  private def btLevels(n: Int, cap: Int): List[Vector[BtNodeSpec]] = {
    var acc = List((0 until n by cap)
      .map(s => BtNodeSpec(s, math.min(s + cap, n), s, math.min(s + cap, n))).toVector)
    while (acc.head.size > 1) {
      val cur = acc.head
      acc = (0 until cur.size by cap).map { s =>
        val e = math.min(s + cap, cur.size)
        BtNodeSpec(cur(s).chunkStart, cur(e - 1).chunkEnd, s, e)
      }.toVector :: acc
    }
    acc
  }

  private def writeNewStyle(specs: Seq[DsSpec], deflate: Boolean,
      shuffle: Boolean, denseRoot: Boolean, smallHeapBlocks: Boolean,
      v4Chunks: Boolean = false, v4FixedArrayAlways: Boolean = false,
      v4Extensible: Boolean = false, eaParams: EaParams = EaParams(),
      v1LeafCap: Int = Int.MaxValue, v4Btree2: Boolean = false,
      bt2NodeSize: Int = 2048, faPageBits: Int = 16,
      fletcher: Boolean = false): Array[Byte] = {
    require(specs.nonEmpty, "at least one dataset")
    require(specs.forall(_.attrs.isEmpty),
      "attribute writing is the v0 writer's (write()); the latest-generation " +
        "writers don't emit attrs — dropping them silently would hide the intent")
    val sorted = specs.sortBy(_.name)
    def align8(x: Long): Long = (x + 7) & ~7L
    val nameBytes = sorted.map(s => s.name.getBytes("UTF-8"))
    nameBytes.foreach(n => require(n.length < 256, "link names must fit a 1-byte length"))
    // netCDF-4 pipeline order: fletcher32 first (checksums the RAW chunk),
    // then shuffle (the 4 checksum bytes ride as unshuffled leftover),
    // then deflate — mirroring nc_def_var_fletcher32 + deflate plists.
    val filters = (if (fletcher) Seq(H5Filter(3, Nil)) else Nil) ++
      (if (shuffle) Seq(H5Filter(2, Seq(8))) else Nil) ++
      (if (deflate) Seq(H5Filter(1, Seq(6))) else Nil)

    // ---- layout computation
    val superblockLen = 48L // sig(8) ver(1) sizes(2) flags(1) 4x addr(32) csum(4)
    val linkBodies = nameBytes.map(11 + _.length) // ver+flags+len1+name+addr8
    val chunk0Root =
      if (denseRoot) 4 + 18 // Link Info only (fheap + name index defined)
      else (4 + 18) + (4 + linkBodies.head) +
        (if (sorted.size > 1) 4 + 16 else 0)
    val rootAddr = superblockLen
    val rootLen = 8L + chunk0Root + 4
    val ochkAddr = rootAddr + rootLen
    val ochkLen = if (!denseRoot && sorted.size > 1) 8L + linkBodies.tail.map(_ + 4).sum else 0L
    var cursor = align8(ochkAddr + ochkLen)
    val headerAddrs = scala.collection.mutable.Map[String, Long]()
    val dataAddrs = scala.collection.mutable.Map[String, Long]()
    val chunkBtreeAddrs = scala.collection.mutable.Map[String, Long]()
    val chunkPlans = scala.collection.mutable.Map[String, Seq[(Seq[Long], Array[Byte], Long)]]()
    val headerLens = scala.collection.mutable.Map[String, Int]()
    def cross(ls: Seq[Seq[Long]]): Seq[Seq[Long]] =
      ls.foldLeft(Seq(Seq.empty[Long]))((acc, l) => for (a <- acc; x <- l) yield a :+ x)
    // layout-v4 bookkeeping: per dataset the chosen chunk-index type
    // (1 single, 2 implicit, 3 fixed array, 4 extensible array) and the
    // index address
    val v4Kind = scala.collection.mutable.Map[String, Int]()
    val v4IndexAddrs = scala.collection.mutable.Map[String, Long]()
    // extensible-array block layout: per dataset the element size plus
    // the EAIB / per-row EASB / per-(row, slot) EADB addresses
    final case class EaPlan(elmtSize: Int, eaib: Long,
      sblkAddrs: Map[Int, Long], dblkAddrs: Map[(Int, Int), Long])
    val eaPlans = scala.collection.mutable.Map[String, EaPlan]()
    // v2 B-tree chunk index: record/size-field widths, node addresses,
    // and the chunk indices each leaf / the root carries (tree order =
    // row-major chunk order = lexicographic scaled offsets)
    final case class Bt2Plan(recSize: Int, szLen: Int, depth: Int, root: Bt2Node)
    val bt2Plans = scala.collection.mutable.Map[String, Bt2Plan]()
    // v1 chunk B-tree node layout: levels (root first) + node addresses
    val btPlans = scala.collection.mutable.Map[String, (List[Vector[BtNodeSpec]], List[Vector[Long]])]()
    sorted.foreach { s =>
      require(s.data.length.toLong == s.dims.product,
        s"dataset ${s.name}: data length ${s.data.length} != ${s.dims.product}")
      val rank = s.dims.size
      val unlimited = (v4Extensible || v4Btree2) && s.chunkDims.isDefined
      val spaceBody = 4 + 8 * rank + (if (unlimited) 8 * rank else 0)
      val hasFilter = s.chunkDims.isDefined && filters.nonEmpty
      val originsOpt = s.chunkDims.map { cd =>
        require(cd.size == rank, s"${s.name}: chunk rank != dataset rank")
        cross(cd.zip(s.dims).map { case (c, d) => 0L.until(d).by(c.toLong) })
      }
      if (v4Chunks && s.chunkDims.isDefined) {
        val n = originsOpt.get.size
        v4Kind(s.name) =
          if (v4Btree2) 5
          else if (v4Extensible) 4
          else if (v4FixedArrayAlways) 3
          else if (n == 1) 1
          else if (filters.isEmpty) 2
          else 3
      }
      val layoutBody = s.chunkDims match {
        case None => 18 // ver+cls+addr8+size8
        case Some(_) if v4Chunks =>
          // ver+cls+flags+nd+encLen + (rank+1)*4 + idxType + idxData + addr8
          // (dims carry the v3-style element-size tail)
          val idxData = v4Kind(s.name) match {
            case 1 => if (hasFilter) 12 else 0 // filtered: size8 + mask4
            case 2 => 0
            case 3 => 1 // page bits
            case 4 => 5 // the EA creation parameters
            case 5 => 6 // node size + split/merge percents
          }
          5 + (rank + 1) * 4 + 1 + idxData + 8
        case Some(_) => 3 + 8 + 4 * (rank + 1)
      }
      // v2 pipeline entry: id(2)+flags(2)+nvals(2) + client data (4 per
      // value) — deflate/shuffle carry 1 value, fletcher32 carries none
      val pipeBody =
        if (hasFilter) 2 + filters.map(f => 6 + 4 * f.cd.size).sum else 0
      val chunk0 = (4 + spaceBody) + (4 + 24) + (4 + layoutBody) +
        (if (hasFilter) 4 + pipeBody else 0)
      headerLens(s.name) = chunk0
      headerAddrs(s.name) = cursor
      val headerLen = 8L + chunk0 + 4
      s.chunkDims match {
        case None =>
          dataAddrs(s.name) = align8(cursor + headerLen)
          cursor = dataAddrs(s.name) + align8(8L * s.data.length)
        case Some(cd) =>
          val origins = originsOpt.get
          val payloads = origins.map(o => chunkPayload(s, cd, o, filters))
          if (!v4Chunks) {
            val btreeAddr = align8(cursor + headerLen)
            chunkBtreeAddrs(s.name) = btreeAddr
            val keySize = 8 + 8 * (rank + 1)
            val levels = btLevels(origins.size, v1LeafCap)
            var naddr = btreeAddr
            val nodeAddrs = levels.map(_.map { nd =>
              val a = naddr
              naddr = align8(naddr +
                24L + (nd.childEnd - nd.childStart) * (keySize + 8) + keySize)
              a
            })
            btPlans(s.name) = (levels, nodeAddrs)
            var caddr = naddr
            chunkPlans(s.name) = origins.zip(payloads).map { case (o, payload) =>
              val a = caddr
              caddr = align8(caddr + payload.length)
              (o, payload, a)
            }
            cursor = caddr
          } else v4Kind(s.name) match {
            case 1 => // single chunk: the index address IS the chunk
              val caddr = align8(cursor + headerLen)
              v4IndexAddrs(s.name) = caddr
              chunkPlans(s.name) = Seq((origins.head, payloads.head, caddr))
              cursor = caddr + align8(payloads.head.length)
            case 2 => // implicit: consecutive unfiltered chunks
              val base = align8(cursor + headerLen)
              v4IndexAddrs(s.name) = base
              val sz = payloads.head.length.toLong // unfiltered: all equal
              chunkPlans(s.name) = origins.zip(payloads).zipWithIndex.map {
                case ((o, p), i) => (o, p, base + i * sz)
              }
              cursor = base + origins.size * sz
            case 3 => // fixed array: FAHD + FADB (paged past 2^pageBits) + chunks
              val fahd = align8(cursor + headerLen)
              v4IndexAddrs(s.name) = fahd
              val entrySize = if (hasFilter) 16 else 8
              val fadb = fahd + 28
              val n = origins.size
              val pageSize = 1L << faPageBits
              val dbLen =
                if (n <= pageSize) 14 + n.toLong * entrySize + 4
                else {
                  val nPages = ((n + pageSize - 1) / pageSize).toInt
                  14 + (nPages + 7) / 8 + 4 + n.toLong * entrySize + 4L * nPages
                }
              var caddr = align8(fadb + dbLen)
              chunkPlans(s.name) = origins.zip(payloads).map { case (o, payload) =>
                val a = caddr
                caddr = align8(caddr + payload.length)
                (o, payload, a)
              }
              cursor = caddr
            case 4 => // extensible array: EAHD + EAIB + EASBs + EADBs + chunks
              val p = eaParams
              require(p.minPtrs >= 2, "EaParams.minPtrs must be >= 2")
              val es = if (hasFilter) 20 else 8 // addr8 [+ size8 + mask4]
              val n = origins.size
              val eahd = align8(cursor + headerLen)
              v4IndexAddrs(s.name) = eahd
              val eaib = align8(eahd + 72)
              var c = align8(eaib + 14 + p.iblkElmts * es +
                (p.iblkNdblkAddrs + p.iblkNsblkAddrs) * 8 + 4)
              val beyond = math.max(0L, n.toLong - p.iblkElmts)
              val rows = Iterator.from(0).takeWhile(u => p.rowStartIdx(u) < beyond).toSeq
              val sAddrs = rows.filter(_ >= p.iblkNsblks).map { u =>
                val a = c
                c = align8(c + p.sblkDiskSize(u))
                u -> a
              }.toMap
              val dAddrs = rows.flatMap { u =>
                val have = math.min(beyond - p.rowStartIdx(u),
                  p.rowNdblks(u).toLong * p.rowDblkNelmts(u))
                val ndb = ((have + p.rowDblkNelmts(u) - 1) / p.rowDblkNelmts(u)).toInt
                (0 until ndb).map { k =>
                  val a = c
                  c = align8(c + p.dblkDiskSize(u, es))
                  (u, k) -> a
                }
              }.toMap
              eaPlans(s.name) = EaPlan(es, eaib, sAddrs, dAddrs)
              var caddr = c
              chunkPlans(s.name) = origins.zip(payloads).map { case (o, payload) =>
                val a = caddr
                caddr = align8(caddr + payload.length)
                (o, payload, a)
              }
              cursor = caddr
            case 5 => // v2 B-tree: BTHD + BTIN/BTLF tree (ANY depth) + chunks
              val bthd = align8(cursor + headerLen)
              v4IndexAddrs(s.name) = bthd
              val szLen = if (hasFilter) encSize(payloads.map(_.length).max.toLong) else 0
              val recSize = 8 + (if (hasFilter) szLen + 4 else 0) + 8 * rank
              require((bt2NodeSize - 10) / recSize >= 2,
                s"${s.name}: v2 B-tree node size $bt2NodeSize " +
                  s"holds fewer than two $recSize-byte records")
              val (d2, root2, treeEnd) =
                bt2Build(bt2NodeSize, recSize, origins.size, align8(bthd + 38))
              bt2Plans(s.name) = Bt2Plan(recSize, szLen, d2, root2)
              var caddr = align8(treeEnd)
              chunkPlans(s.name) = origins.zip(payloads).map { case (o, payload) =>
                val a = caddr
                caddr = align8(caddr + payload.length)
                (o, payload, a)
              }
              cursor = caddr
          }
      }
    }

    // ---- dense-root heap + index layout (after the datasets) ----------
    // fractal heap geometry: W=4; default = one root DIRECT block big
    // enough for every link; smallBlocks = 64/128-byte blocks forcing a
    // root INDIRECT block, plus a 32-byte B-tree node size forcing a
    // depth-1 tree
    val fheapWidth = 4
    val dbHeaderLen = 4 + 1 + 8 + 4 // sig + version + heap hdr addr + 4-byte block offset
    val linkTotal = linkBodies.sum
    val (startBlock, maxDirect) =
      if (smallHeapBlocks) (64L, 128L)
      else {
        var s = 512L
        while (s < dbHeaderLen + linkTotal) s <<= 1
        (s, math.max(s, 65536L))
      }
    def rowSizeOf(r: Int): Long = if (r < 2) startBlock else startBlock << (r - 1)
    val maxDirectRows =
      (63 - java.lang.Long.numberOfLeadingZeros(maxDirect / startBlock)).toInt + 2
    // rows of a CHILD indirect block sitting in root row r: the child
    // spans rowSizeOf(r) heap bytes; its own rows restart the doubling
    // table, so childRows = log2(span / (W * start)) + 1
    def childRowsOf(r: Int): Int =
      (63 - java.lang.Long.numberOfLeadingZeros(
        rowSizeOf(r) / (fheapWidth * startBlock))).toInt + 1
    // direct-block geometry in heap order, INCLUDING one level of
    // indirect children past the direct rows
    final case class HeapBlk(base: Long, size: Long, rootEntry: Int, childSlot: Int)
    val heapGeom: Vector[HeapBlk] = {
      val need = dbHeaderLen.toLong * 64 + 2 * linkTotal + 4096
      val bs = Vector.newBuilder[HeapBlk]
      var base = 0L
      var r = 0
      while (base < need && r < 16) {
        if (r < maxDirectRows) {
          (0 until fheapWidth).foreach { c =>
            bs += HeapBlk(base, rowSizeOf(r), r * fheapWidth + c, -1)
            base += rowSizeOf(r)
          }
        } else {
          require(childRowsOf(r) <= maxDirectRows,
            "writer: indirect grandchild heap blocks unsupported")
          (0 until fheapWidth).foreach { c =>
            var k = 0
            var covered = 0L
            while (covered < rowSizeOf(r)) {
              (0 until fheapWidth).foreach { cc =>
                bs += HeapBlk(base + covered, rowSizeOf(k), r * fheapWidth + c,
                  k * fheapWidth + cc)
                covered += rowSizeOf(k)
              }
              k += 1
            }
            base += rowSizeOf(r)
          }
        }
        r += 1
      }
      bs.result()
    }
    // pack links into blocks greedily (objects never span blocks)
    val blockFill = scala.collection.mutable.ArrayBuffer[Long]() // used bytes per block
    val heapPlacements: Seq[Long] = if (denseRoot) linkBodies.map { len =>
      var bi = -1
      var i = 0
      while (bi < 0 && i < blockFill.size) {
        if (blockFill(i) + len <= heapGeom(i).size) bi = i
        i += 1
      }
      if (bi < 0) {
        blockFill += dbHeaderLen.toLong
        bi = blockFill.size - 1
        require(bi < heapGeom.size && dbHeaderLen + len <= heapGeom(bi).size,
          s"link body of $len bytes exceeds the heap geometry")
      }
      val off = heapGeom(bi).base + blockFill(bi)
      blockFill(bi) += len
      off
    } else Seq.empty
    val nBlocks = math.max(1, blockFill.size)
    val usedGeom = heapGeom.take(nBlocks)
    val rootIsDirect = nBlocks == 1 && !smallHeapBlocks
    val fheapAddr = cursor
    val fheapHeaderLen = 146L
    val fhibRows = if (rootIsDirect) 0 else usedGeom.last.rootEntry / fheapWidth + 1
    val fhibLen = if (rootIsDirect) 0L else 4 + 1 + 8 + 4 + fhibRows.toLong * fheapWidth * 8 + 4
    val rootBlockAddr = fheapAddr + fheapHeaderLen
    // child indirect blocks (root entries past the direct rows), in order
    val childEntries: Vector[Int] =
      usedGeom.filter(_.childSlot >= 0).map(_.rootEntry).distinct
    val childLenOf: Map[Int, Long] = childEntries.map { e =>
      e -> (4 + 1 + 8 + 4 + childRowsOf(e / fheapWidth).toLong * fheapWidth * 8 + 4)
    }.toMap
    val childAddrs: Map[Int, Long] = {
      var a = rootBlockAddr + fhibLen
      childEntries.map { e => val here = a; a += childLenOf(e); e -> here }.toMap
    }
    val blockAddrs: Seq[Long] = if (!denseRoot) Seq.empty else {
      var a = rootBlockAddr + fhibLen + childEntries.map(childLenOf).sum
      usedGeom.map { b => val here = a; a += b.size; here }
    }
    val heapEnd =
      if (!denseRoot) cursor
      else blockAddrs.last + usedGeom.last.size
    // name-index v2 B-tree: record = 4-byte surrogate hash + 7-byte id
    val recSize = 11
    def nameHash(n: Array[Byte]): Int =
      n.foldLeft(17)((h, b) => h * 31 + (b & 0xff)) & 0x7fffffff
    val sortedRecs: Seq[(Int, Int)] = // (hash, link index) in hash order
      nameBytes.zipWithIndex.map { case (n, i) => (nameHash(n), i) }.sortBy(_._1)
    // small mode: a 76-byte node (leaf cap 6) forces depth 1 past 6
    // links and depth 2 past the 20-link depth-1 capacity; default =
    // one leaf big enough for everything. bt2Build plans ANY depth.
    val btNodeSize = if (smallHeapBlocks) 76 else math.max(512, 10 + recSize * sorted.size)
    val bthdAddr = align8(heapEnd)
    val bthdLen = 38L
    val (btDepth, btRoot, btEnd) =
      bt2Build(btNodeSize, recSize, sortedRecs.size, bthdAddr + bthdLen)
    if (denseRoot) cursor = btEnd

    val total = cursor
    require(total <= Int.MaxValue, s"HDF5 export of $total bytes exceeds builder limit")
    val out = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)

    // ---- superblock v3
    out.put(Signature)
    out.put(3.toByte)
    out.put(8.toByte); out.put(8.toByte) // offset/length sizes
    out.put(0.toByte) // file consistency flags
    out.putLong(0L) // base address
    out.putLong(Undef) // superblock extension
    out.putLong(total) // end of file
    out.putLong(rootAddr) // root object header
    out.putInt(0) // checksum (zero — see doc)

    def ohdrPrefix(chunk0: Int): Unit = {
      out.put('O'.toByte); out.put('H'.toByte); out.put('D'.toByte); out.put('R'.toByte)
      out.put(2.toByte) // version
      out.put(0x01.toByte) // flags: 2-byte chunk-0 size, nothing optional
      out.putShort(chunk0.toShort)
    }
    def msgHdr(mtype: Int, msize: Int): Unit = {
      out.put(mtype.toByte); out.putShort(msize.toShort); out.put(0.toByte)
    }
    def linkBody(idx: Int): Unit = {
      out.put(1.toByte) // version
      out.put(0.toByte) // flags: 1-byte name length, hard link
      out.put(nameBytes(idx).length.toByte)
      out.put(nameBytes(idx))
      out.putLong(headerAddrs(sorted(idx).name))
    }
    def linkMsg(idx: Int): Unit = {
      msgHdr(0x06, linkBodies(idx))
      linkBody(idx)
    }

    // ---- root group OHDR -----------------------------------------------
    out.position(rootAddr.toInt)
    ohdrPrefix(chunk0Root)
    msgHdr(0x02, 18)
    out.put(0.toByte) // link info version
    out.put(0.toByte) // flags: no creation order, not indexed by order
    if (denseRoot) {
      out.putLong(fheapAddr) // fractal heap: DENSE storage
      out.putLong(bthdAddr) // name-index v2 B-tree
      out.putInt(0) // header checksum (zero)
    } else {
      out.putLong(Undef) // fractal heap (undef = COMPACT storage)
      out.putLong(Undef) // name-index B-tree
      linkMsg(0)
      if (sorted.size > 1) {
        msgHdr(0x10, 16)
        out.putLong(ochkAddr)
        out.putLong(ochkLen)
      }
      out.putInt(0) // header checksum (zero)
    }

    // ---- OCHK continuation with the remaining links (compact mode)
    if (!denseRoot && sorted.size > 1) {
      out.position(ochkAddr.toInt)
      out.put('O'.toByte); out.put('C'.toByte); out.put('H'.toByte); out.put('K'.toByte)
      (1 until sorted.size).foreach(linkMsg)
      out.putInt(0) // block checksum (zero)
    }

    // ---- dense-root structures -----------------------------------------
    if (denseRoot) {
      // fractal heap header (FRHP)
      out.position(fheapAddr.toInt)
      out.put('F'.toByte); out.put('R'.toByte); out.put('H'.toByte); out.put('P'.toByte)
      out.put(0.toByte) // version
      out.putShort(7) // heap id length: flags(1) + offset(4) + length(2)
      out.putShort(0) // io filter encoded length
      out.put(0.toByte) // flags: no checksums
      out.putInt(4096) // max size of managed objects
      out.putLong(0L); out.putLong(Undef) // next huge id, huge v2 btree
      out.putLong(0L); out.putLong(Undef) // free space, free-space manager
      out.putLong(heapEnd - rootBlockAddr) // managed space
      out.putLong(heapEnd - rootBlockAddr) // allocated managed space
      out.putLong(heapEnd - rootBlockAddr) // direct block iterator offset
      out.putLong(sorted.size.toLong) // number of managed objects
      out.putLong(0L); out.putLong(0L) // huge size, huge count
      out.putLong(0L); out.putLong(0L) // tiny size, tiny count
      out.putShort(fheapWidth.toShort)
      out.putLong(startBlock)
      out.putLong(maxDirect)
      out.putShort(32) // maximum heap size (bits) -> 4-byte offsets
      out.putShort(if (rootIsDirect) 0 else fhibRows.toShort)
      out.putLong(rootBlockAddr)
      out.putShort(if (rootIsDirect) 0 else fhibRows.toShort) // current rows
      out.putInt(0) // checksum (zero)
      // root indirect block (when several direct blocks): direct rows
      // carry direct-block addresses, rows past them carry CHILD
      // indirect blocks
      if (!rootIsDirect) {
        out.position(rootBlockAddr.toInt)
        out.put('F'.toByte); out.put('H'.toByte); out.put('I'.toByte); out.put('B'.toByte)
        out.put(0.toByte)
        out.putLong(fheapAddr)
        out.putInt(0) // block offset (heap offset 0)
        val directAddrOf: Map[Int, Long] = usedGeom.zip(blockAddrs)
          .filter(_._1.childSlot < 0).map { case (b, a) => b.rootEntry -> a }.toMap
        (0 until fhibRows * fheapWidth).foreach { e =>
          if (e / fheapWidth < maxDirectRows) out.putLong(directAddrOf.getOrElse(e, Undef))
          else out.putLong(childAddrs.getOrElse(e, Undef))
        }
        out.putInt(0) // checksum (zero)
        childEntries.foreach { e =>
          out.position(childAddrs(e).toInt)
          out.put('F'.toByte); out.put('H'.toByte); out.put('I'.toByte); out.put('B'.toByte)
          out.put(0.toByte)
          out.putLong(fheapAddr)
          val span = usedGeom.find(b => b.rootEntry == e && b.childSlot == 0).get
          out.putInt(span.base.toInt) // child's heap-space offset
          val slotAddr: Map[Int, Long] = usedGeom.zip(blockAddrs)
            .filter(_._1.rootEntry == e).map { case (b, a) => b.childSlot -> a }.toMap
          (0 until childRowsOf(e / fheapWidth) * fheapWidth).foreach { sl =>
            out.putLong(slotAddr.getOrElse(sl, Undef))
          }
          out.putInt(0) // checksum (zero)
        }
      }
      // direct blocks with their packed link bodies
      val dbStart = if (rootIsDirect) Seq(rootBlockAddr) else blockAddrs
      dbStart.zip(usedGeom).foreach { case (addr, b) =>
        out.position(addr.toInt)
        out.put('F'.toByte); out.put('H'.toByte); out.put('D'.toByte); out.put('B'.toByte)
        out.put(0.toByte)
        out.putLong(fheapAddr)
        out.putInt(b.base.toInt) // block offset in heap space
      }
      heapPlacements.zipWithIndex.foreach { case (heapOff, idx) =>
        // block index from heap offset
        var bi = 0
        while (bi + 1 < nBlocks && usedGeom(bi + 1).base <= heapOff) bi += 1
        val fileOff = dbStart(bi) + (heapOff - usedGeom(bi).base)
        out.position(fileOff.toInt)
        linkBody(idx)
      }
      // B-tree header (BTHD)
      out.position(bthdAddr.toInt)
      out.put('B'.toByte); out.put('T'.toByte); out.put('H'.toByte); out.put('D'.toByte)
      out.put(0.toByte) // version
      out.put(5.toByte) // type: link name index
      out.putInt(btNodeSize)
      out.putShort(recSize.toShort)
      out.putShort(btDepth.toShort)
      out.put(100.toByte); out.put(40.toByte) // split/merge percents
      out.putLong(btRoot.addr)
      out.putShort(btRoot.ownRecs.size.toShort)
      out.putLong(sortedRecs.size.toLong)
      out.putInt(0) // checksum (zero)
      val geomL = bt2Geom(btNodeSize, recSize, btDepth)
      def record(rec: (Int, Int)): Unit = {
        out.putInt(rec._1) // surrogate name hash
        out.put(0.toByte) // heap id flags: managed, version 0
        out.putInt(heapPlacements(rec._2).toInt) // 4-byte heap offset (LE)
        out.putShort(linkBodies(rec._2).toShort) // 2-byte length (LE)
      }
      // pointer geometry per bt2Geom (child record count sized by the
      // leaf max; subtree totals below depth 1)
      def emitNode(node: Bt2Node, d: Int): Unit = node match {
        case Bt2Leaf(addr, recs) =>
          out.position(addr.toInt)
          out.put('B'.toByte); out.put('T'.toByte); out.put('L'.toByte); out.put('F'.toByte)
          out.put(0.toByte); out.put(5.toByte)
          recs.foreach(i => record(sortedRecs(i)))
          out.putInt(0) // checksum (zero)
        case Bt2Inner(addr, recs, children) =>
          out.position(addr.toInt)
          out.put('B'.toByte); out.put('T'.toByte); out.put('I'.toByte); out.put('N'.toByte)
          out.put(0.toByte); out.put(5.toByte)
          recs.foreach(i => record(sortedRecs(i)))
          children.foreach { c =>
            out.putLong(c.addr)
            val cn = c.ownRecs.size
            (0 until geomL.maxNrecSize).foreach(j =>
              out.put(((cn >> (8 * j)) & 0xff).toByte))
            if (d - 1 > 0) {
              val tot = bt2TotalRecs(c)
              (0 until geomL.cumSizes(d - 1)).foreach(j =>
                out.put(((tot >> (8 * j)) & 0xff).toByte))
            }
          }
          out.putInt(0) // checksum (zero)
          children.foreach(emitNode(_, d - 1))
      }
      emitNode(btRoot, btDepth)
    }

    // ---- datasets (v2 headers)
    sorted.foreach { s =>
      val rank = s.dims.size
      out.position(headerAddrs(s.name).toInt)
      ohdrPrefix(headerLens(s.name))
      // dataspace v2 (extensible mode: maxdims present — ONE unlimited
      // slowest dim in EA mode, the netCDF-4 record-dimension shape;
      // ALL dims unlimited in v2-B-tree mode, the >1-unlimited shape
      // that index exists for)
      val unlimited = (v4Extensible || v4Btree2) && s.chunkDims.isDefined
      msgHdr(0x01, 4 + 8 * rank + (if (unlimited) 8 * rank else 0))
      out.put(2.toByte); out.put(rank.toByte)
      out.put((if (unlimited) 1 else 0).toByte) // flags: maxdims stored
      out.put(1.toByte) // type: simple
      s.dims.foreach(out.putLong)
      if (unlimited) {
        out.putLong(Undef) // H5S_UNLIMITED sentinel
        if (v4Btree2) s.dims.tail.foreach(_ => out.putLong(Undef))
        else s.dims.tail.foreach(out.putLong)
      }
      // datatype: IEEE float64 LE (same 24-byte body as the v0 writer)
      msgHdr(0x03, 24)
      out.put(((1 << 4) | 1).toByte); out.put(0x20.toByte)
      out.put(63.toByte); out.put(0.toByte)
      out.putInt(8)
      out.putShort(0); out.putShort(64)
      out.put(52.toByte); out.put(11.toByte)
      out.put(0.toByte); out.put(52.toByte)
      out.putInt(1023)
      out.putInt(0)
      s.chunkDims match {
        case None =>
          msgHdr(0x08, 18)
          out.put(3.toByte); out.put(1.toByte)
          out.putLong(dataAddrs(s.name))
          out.putLong(8L * s.data.length)
        case Some(cd) if !v4Chunks =>
          msgHdr(0x08, 3 + 8 + 4 * (rank + 1))
          out.put(3.toByte); out.put(2.toByte)
          out.put((rank + 1).toByte)
          out.putLong(chunkBtreeAddrs(s.name))
          cd.foreach(out.putInt)
          out.putInt(8) // element size "dimension"
          emitPipeline()
        case Some(cd) =>
          // layout v4 chunked: flags, rank+1 (the v3-style element-size
          // tail), 4-byte encoded chunk dims, index type + type data,
          // index address
          val kind = v4Kind(s.name)
          val hasF = filters.nonEmpty
          val idxData = kind match {
            case 1 => if (hasF) 12 else 0
            case 2 => 0
            case 3 => 1
            case 4 => 5
            case 5 => 6
          }
          msgHdr(0x08, 5 + (rank + 1) * 4 + 1 + idxData + 8)
          out.put(4.toByte); out.put(2.toByte)
          out.put((if (kind == 1 && hasF) 0x02 else 0x00).toByte) // SINGLE_INDEX_WITH_FILTER
          out.put((rank + 1).toByte)
          out.put(4.toByte) // dimension size encoded length
          cd.foreach(out.putInt)
          out.putInt(8) // element-size tail (f8 payloads)
          out.put(kind.toByte)
          kind match {
            case 1 if hasF =>
              out.putLong(chunkPlans(s.name).head._2.length.toLong)
              out.putInt(0) // filter mask
            case 3 => out.put(faPageBits.toByte) // page bits
            case 4 => // EA creation parameters, H5O layout-message order
              out.put(eaParams.maxBits.toByte)
              out.put(eaParams.iblkElmts.toByte)
              out.put(eaParams.minPtrs.toByte)
              out.put(eaParams.minElmts.toByte)
              out.put(eaParams.pageBits.toByte)
            case 5 => // v2 B-tree creation parameters
              out.putInt(bt2NodeSize)
              out.put(100.toByte); out.put(40.toByte) // split/merge percents
            case _ => ()
          }
          out.putLong(v4IndexAddrs(s.name))
          emitPipeline()
      }
      def emitPipeline(): Unit = if (s.chunkDims.isDefined && filters.nonEmpty) {
        msgHdr(0x0B, 2 + filters.map(f => 6 + 4 * f.cd.size).sum)
        out.put(2.toByte) // pipeline version
        out.put(filters.size.toByte)
        filters.foreach { f =>
          out.putShort(f.id.toShort)
          out.putShort(0) // flags
          out.putShort(f.cd.size.toShort) // n client values
          f.cd.foreach(out.putInt) // elem size / deflate level
        }
      }
      out.putInt(0) // header checksum (zero)
      // data / index emission
      s.chunkDims match {
        case None =>
          out.position(dataAddrs(s.name).toInt)
          s.data.foreach(out.putDouble)
        case Some(cd) if !v4Chunks =>
          val chunks = chunkPlans(s.name)
          val (levels, nodeAddrs) = btPlans(s.name)
          val nLevels = levels.size
          // sentinel offsets of the key after the last chunk: the grid end
          val gridEnd = s.dims.zip(cd).map { case (d, c) => ((d + c - 1) / c) * c }
          def putKey(nbytes: Int, offs: Seq[Long]): Unit = {
            out.putInt(nbytes); out.putInt(0) // size, filter mask
            offs.foreach(out.putLong)
            out.putLong(0L) // element-size dimension offset
          }
          def chunkKey(i: Int): Unit =
            if (i < chunks.size) putKey(chunks(i)._2.length, chunks(i)._1)
            else putKey(0, gridEnd)
          levels.zip(nodeAddrs).zipWithIndex.foreach { case ((lvl, addrs), li) =>
            val levelNum = nLevels - 1 - li // leaves are level 0
            lvl.zipWithIndex.foreach { case (nd, ni) =>
              out.position(addrs(ni).toInt)
              out.put('T'.toByte); out.put('R'.toByte); out.put('E'.toByte); out.put('E'.toByte)
              out.put(1.toByte); out.put(levelNum.toByte)
              out.putShort((nd.childEnd - nd.childStart).toShort)
              out.putLong(if (ni == 0) Undef else addrs(ni - 1))
              out.putLong(if (ni == lvl.size - 1) Undef else addrs(ni + 1))
              if (levelNum == 0)
                (nd.childStart until nd.childEnd).foreach { ci =>
                  chunkKey(ci)
                  out.putLong(chunks(ci)._3)
                }
              else {
                val below = levels(li + 1); val belowAddrs = nodeAddrs(li + 1)
                (nd.childStart until nd.childEnd).foreach { ci =>
                  chunkKey(below(ci).chunkStart)
                  out.putLong(belowAddrs(ci))
                }
              }
              chunkKey(nd.chunkEnd) // trailing key
            }
          }
          chunks.foreach { case (_, payload, addr) =>
            out.position(addr.toInt)
            out.put(payload)
          }
        case Some(_) =>
          val chunks = chunkPlans(s.name)
          if (v4Kind(s.name) == 3) {
            val hasF = filters.nonEmpty
            val entrySize = if (hasF) 16 else 8
            val fahd = v4IndexAddrs(s.name)
            out.position(fahd.toInt)
            out.put('F'.toByte); out.put('A'.toByte); out.put('H'.toByte); out.put('D'.toByte)
            out.put(0.toByte) // version
            out.put((if (hasF) 1 else 0).toByte) // client id
            out.put(entrySize.toByte)
            out.put(faPageBits.toByte)
            out.putLong(chunks.size.toLong)
            out.putLong(fahd + 28) // data block address
            out.putInt(0) // checksum (zero)
            out.put('F'.toByte); out.put('A'.toByte); out.put('D'.toByte); out.put('B'.toByte)
            out.put(0.toByte)
            out.put((if (hasF) 1 else 0).toByte)
            out.putLong(fahd)
            def faEntry(ci: Int): Unit = {
              out.putLong(chunks(ci)._3)
              if (hasF) { out.putInt(chunks(ci)._2.length); out.putInt(0) }
            }
            val pageSize = 1L << faPageBits
            if (chunks.size <= pageSize) {
              chunks.indices.foreach(faEntry)
              out.putInt(0) // checksum (zero)
            } else {
              // paged: all-initialized page bitmap + header checksum,
              // then element pages each tailed by a checksum
              val nPages = ((chunks.size + pageSize - 1) / pageSize).toInt
              (0 until (nPages + 7) / 8).foreach(_ => out.put(0xff.toByte))
              out.putInt(0) // data-block header checksum (zero)
              var ci = 0
              (0 until nPages).foreach { p =>
                val inPage = math.min(pageSize, chunks.size - p * pageSize).toInt
                (0 until inPage).foreach { _ => faEntry(ci); ci += 1 }
                out.putInt(0) // page checksum (zero)
              }
            }
          } else if (v4Kind(s.name) == 4) {
            val p = eaParams
            val plan = eaPlans(s.name)
            val hasF = filters.nonEmpty
            val client = (if (hasF) 1 else 0).toByte
            val eahd = v4IndexAddrs(s.name)
            def putElement(i: Long): Unit =
              if (i < chunks.size) {
                out.putLong(chunks(i.toInt)._3)
                if (hasF) { out.putLong(chunks(i.toInt)._2.length.toLong); out.putInt(0) }
              } else {
                out.putLong(Undef)
                if (hasF) { out.putLong(0L); out.putInt(0) }
              }
            def putOff(v: Long): Unit =
              (0 until p.offSize).foreach(j => out.put(((v >> (8 * j)) & 0xff).toByte))
            def blockPrefix(sig: String, addr: Long): Unit = {
              out.position(addr.toInt)
              sig.foreach(ch => out.put(ch.toByte))
              out.put(0.toByte) // version
              out.put(client)
            }
            // header: sig/ver/client, cparams, statistics, iblock addr
            blockPrefix("EAHD", eahd)
            out.put(plan.elmtSize.toByte)
            out.put(p.maxBits.toByte); out.put(p.iblkElmts.toByte)
            out.put(p.minElmts.toByte); out.put(p.minPtrs.toByte)
            out.put(p.pageBits.toByte)
            out.putLong(plan.sblkAddrs.size.toLong) // # super blocks
            out.putLong(plan.sblkAddrs.keys.map(u => p.sblkDiskSize(u).toLong).sum)
            out.putLong(plan.dblkAddrs.size.toLong) // # data blocks
            out.putLong(plan.dblkAddrs.keys
              .map { case (u, _) => p.dblkDiskSize(u, plan.elmtSize).toLong }.sum)
            out.putLong(chunks.size.toLong) // max index set
            out.putLong(chunks.size.toLong) // elements realized
            out.putLong(plan.eaib)
            out.putInt(0) // checksum (zero)
            // index block: first elements, direct dblk addrs, sblk addrs
            blockPrefix("EAIB", plan.eaib)
            out.putLong(eahd)
            (0 until p.iblkElmts).foreach(i => putElement(i.toLong))
            (0 until p.iblkNsblks).foreach { u =>
              (0 until p.rowNdblks(u)).foreach { k =>
                out.putLong(plan.dblkAddrs.getOrElse((u, k), Undef))
              }
            }
            (0 until p.iblkNsblkAddrs).foreach { j =>
              out.putLong(plan.sblkAddrs.getOrElse(p.iblkNsblks + j, Undef))
            }
            out.putInt(0) // checksum (zero)
            plan.sblkAddrs.toSeq.sortBy(_._1).foreach { case (u, a) =>
              blockPrefix("EASB", a)
              out.putLong(eahd)
              putOff(p.iblkElmts + p.rowStartIdx(u))
              if (p.dblkPaged(u)) {
                // page-init bitmap: every page initialized (all chunks
                // written), one bit per page across the row's data blocks
                val bits = p.rowNdblks(u) * p.dblkNpages(u)
                (0 until (bits + 7) / 8).foreach(_ => out.put(0xff.toByte))
              }
              (0 until p.rowNdblks(u)).foreach(k =>
                out.putLong(plan.dblkAddrs.getOrElse((u, k), Undef)))
              out.putInt(0) // checksum (zero)
            }
            plan.dblkAddrs.toSeq.sortBy(_._1).foreach { case ((u, k), a) =>
              blockPrefix("EADB", a)
              out.putLong(eahd)
              val base = p.iblkElmts + p.rowStartIdx(u) + k.toLong * p.rowDblkNelmts(u)
              putOff(base)
              if (!p.dblkPaged(u)) {
                (0 until p.rowDblkNelmts(u)).foreach(j => putElement(base + j))
                out.putInt(0) // checksum (zero)
              } else {
                // PAGED: the block stores only its prefix + checksum; the
                // pages follow contiguously, each = elements + checksum
                out.putInt(0) // data-block header checksum (zero)
                (0 until p.dblkNpages(u)).foreach { pg =>
                  (0 until p.pageNelmts).foreach(j =>
                    putElement(base + pg.toLong * p.pageNelmts + j))
                  out.putInt(0) // page checksum (zero)
                }
              }
            }
          } else if (v4Kind(s.name) == 5) {
            val plan = bt2Plans(s.name)
            val hasF = filters.nonEmpty
            val rtype = (if (hasF) 11 else 10).toByte
            val cdims = s.chunkDims.get
            val bthd = v4IndexAddrs(s.name)
            out.position(bthd.toInt)
            "BTHD".foreach(ch => out.put(ch.toByte))
            out.put(0.toByte) // version
            out.put(rtype)
            out.putInt(bt2NodeSize)
            out.putShort(plan.recSize.toShort)
            out.putShort(plan.depth.toShort)
            out.put(100.toByte); out.put(40.toByte) // split/merge percents
            out.putLong(plan.root.addr)
            out.putShort(plan.root.ownRecs.size.toShort)
            out.putLong(chunks.size.toLong)
            out.putInt(0) // checksum (zero)
            val geomC = bt2Geom(bt2NodeSize, plan.recSize, plan.depth)
            def record(ci: Int): Unit = {
              val (origin, payload, caddr) = chunks(ci)
              out.putLong(caddr)
              if (hasF) {
                (0 until plan.szLen).foreach(j =>
                  out.put(((payload.length >> (8 * j)) & 0xff).toByte))
                out.putInt(0) // filter mask
              }
              origin.zip(cdims).foreach { case (o, c) => out.putLong(o / c) }
            }
            // child pointer geometry per bt2Geom: addr + child record
            // count (maxNrecSize bytes) + subtree total below depth 1
            def emitNode(node: Bt2Node, d: Int): Unit = node match {
              case Bt2Leaf(addr, recs) =>
                out.position(addr.toInt)
                "BTLF".foreach(ch => out.put(ch.toByte))
                out.put(0.toByte); out.put(rtype)
                recs.foreach(record)
                out.putInt(0) // checksum (zero)
              case Bt2Inner(addr, recs, children) =>
                out.position(addr.toInt)
                "BTIN".foreach(ch => out.put(ch.toByte))
                out.put(0.toByte); out.put(rtype)
                recs.foreach(record)
                children.foreach { c =>
                  out.putLong(c.addr)
                  val cn = c.ownRecs.size
                  (0 until geomC.maxNrecSize).foreach(j =>
                    out.put(((cn >> (8 * j)) & 0xff).toByte))
                  if (d - 1 > 0) {
                    val tot = bt2TotalRecs(c)
                    (0 until geomC.cumSizes(d - 1)).foreach(j =>
                      out.put(((tot >> (8 * j)) & 0xff).toByte))
                  }
                }
                out.putInt(0) // checksum (zero)
                children.foreach(emitNode(_, d - 1))
            }
            emitNode(plan.root, plan.depth)
          }
          chunks.foreach { case (_, payload, addr) =>
            out.position(addr.toInt)
            out.put(payload)
          }
      }
    }
    out.array()
  }
}

