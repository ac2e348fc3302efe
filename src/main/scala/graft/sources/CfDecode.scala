package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CF mask-and-scale over the HDF5/netCDF-4 mount — the packed-storage
  * semantics xarray applies on open (`mask_and_scale=True`), which is
  * how the reference consumes every satellite granule
  * (convml_data/sources/goes16/satpy_rgb.py loads through satpy/xarray;
  * CF conventions §8.1 "Packed Data"):
  *
  *   decoded = raw == _FillValue ? null : raw * scale_factor + add_offset
  *
  * The attributes come from the file's own metadata
  * ([[HDF5.attributes]], a KB-scale driver-side header walk); absent
  * attributes default to identity (scale 1, offset 0, no fill) — an
  * unpacked variable round-trips unchanged. The transform is a plain
  * column projection on TOP of the mount scan, so `dK`/`idx` pruning
  * and residual filters on the raw columns are untouched, and the
  * whole expression stays inside whole-stage codegen.
  */
object CfDecode {

  /** The CF packing attributes of one dataset. `unsignedModulus` is the
    * netCDF-classic `_Unsigned = "true"` reinterpretation (2^width):
    * values stored SIGNED whose negatives mean the high half of the
    * unsigned range — xarray applies it before mask and scale. */
  final case class CfAttrs(scale: Double, offset: Double, fill: Option[Double],
      unsignedModulus: Option[Double] = None)

  /** Read scale_factor / add_offset / _FillValue / _Unsigned for
    * `dataset` (numerics are 1-element arrays per CF §8.1; absent ->
    * identity). _Unsigned needs the stored width, read from the same
    * metadata walk. */
  def hdf5CfAttrs(path: String, dataset: String): CfAttrs = {
    val in = new PagedFileInput(path)
    val (attrs, dtBits) = try {
      (HDF5.attributes(in).getOrElse(dataset, Nil),
        HDF5.manifest(in).collectFirst {
          case (v, _) if v.name == dataset && v.dtClass == 0 && v.signedInt =>
            v.dtSize * 8
        })
    } finally in.close()
    def num(name: String): Option[Double] = attrs.find(_.name == name).flatMap(_.num)
    val unsignedMod = attrs.find(_.name == "_Unsigned").flatMap(_.str) match {
      case Some(s) if s.equalsIgnoreCase("true") =>
        val bits = dtBits.getOrElse(throw new IllegalArgumentException(
          s"cf decode: $path/$dataset has _Unsigned but is not a signed integer"))
        Some(math.pow(2.0, bits))
      case _ => None
    }
    CfAttrs(num("scale_factor").getOrElse(1.0), num("add_offset").getOrElse(0.0),
      num("_FillValue"), unsignedMod)
  }

  /** Apply mask-and-scale to a mount DataFrame's `value` column using
    * `attrs`. Order matches xarray: unsigned reinterpretation first
    * (on the fill value too — it is stored with the data's signed
    * type), then mask on the raw value, then scale. */
  def maskAndScale(df: DataFrame, attrs: CfAttrs): DataFrame =
    df.withColumn("value", maskAndScaleExpr(col("value"), attrs))

  /** The decode as a bare expression over any raw column — every
    * [[GridOpen]] open decodes through it: one variable's rows take it
    * bare, several variables' fold one per variable into a single CASE
    * over `dataset`. */
  def maskAndScaleExpr(rawCol: Column, attrs: CfAttrs): Column = {
    def reinterpret(c: Column): Column = attrs.unsignedModulus match {
      case Some(m) => when(c < 0, c + lit(m)).otherwise(c)
      case None => c
    }
    val raw = reinterpret(rawCol)
    val masked = attrs.fill.map(f => lit(f)).map(reinterpret) match {
      case Some(f) => when(raw === f, lit(null)).otherwise(raw)
      case None => raw
    }
    (masked * lit(attrs.scale) + lit(attrs.offset)).cast("double")
  }

  /** The `dataset` rows of the HDF5 mount at `path`, mask-and-scale
    * decoded from the file's own CF attributes. */
  def hdf5(spark: org.apache.spark.sql.SparkSession, path: String,
      dataset: String): DataFrame =
    maskAndScale(
      spark.read.format("graft.sources.Hdf5DataSource")
        .option("path", path).load()
        .where(col("dataset") === dataset),
      hdf5CfAttrs(path, dataset))

  /** CF attrs from a netCDF-3 variable's header attribute list (the
    * classic-format equivalent of the netCDF-4 surface; one header
    * read, already cached by the chunk-ingest planner). */
  def netcdf3CfAttrs(path: String, varName: String): CfAttrs = {
    val h = NetCDF3ChunkIngest.headerOf(path)
    val v = h.vars.find(_.name == varName).getOrElse(
      throw new IllegalArgumentException(
        s"cf decode: variable '$varName' not in $path"))
    def num(n: String): Option[Double] = v.attrs.find(_.name == n)
      .flatMap(_.value match {
        case a: Array[Double] => a.headOption
        case a: Array[Float] => a.headOption.map(_.toDouble)
        case a: Array[Int] => a.headOption.map(_.toDouble)
        case a: Array[Short] => a.headOption.map(_.toDouble)
        case a: Array[Byte] => a.headOption.map(_.toDouble)
        case _ => None // NC_CHAR: not a numeric pack attr
      })
    // _Unsigned (xarray applies it on every backend, not just HDF5):
    // width from the variable's own classic type; on an already-
    // unsigned or non-integer type the attribute is a file error.
    val unsignedMod = v.attrs.find(_.name == "_Unsigned").map(_.value) match {
      case Some(s: String) if s.equalsIgnoreCase("true") =>
        val signedInt = Set(NetCDF3.NcByte, NetCDF3.NcShort,
          NetCDF3.NcInt, NetCDF3.NcInt64)
        if (!signedInt(v.ncType)) throw new IllegalArgumentException(
          s"cf decode: $path/$varName has _Unsigned but nc_type ${v.ncType} " +
            "is not a signed integer")
        Some(math.pow(2.0, NetCDF3.typeSize(v.ncType) * 8))
      case _ => None
    }
    CfAttrs(num("scale_factor").getOrElse(1.0), num("add_offset").getOrElse(0.0),
      num("_FillValue"), unsignedMod)
  }

  /** The `varName` rows of the netCDF-3 mount at `path`, mask-and-scale
    * decoded from the header's variable attributes. */
  def netcdf3(spark: org.apache.spark.sql.SparkSession, path: String,
      varName: String): DataFrame =
    maskAndScale(
      spark.read.format("graft.sources.NetCDF3DataSource")
        .option("path", path).load()
        .where(col("dataset") === varName),
      netcdf3CfAttrs(path, varName))

  /** CF attrs from a zarr array's own metadata: v3 `zarr.json`
    * `attributes`, v2 `.zattrs` — where xarray's to_zarr puts them. */
  def zarrCfAttrs(store: String, dataset: String): CfAttrs = {
    import org.json4s._
    val node = ByteStore.join(store, dataset)
    val v3 = ByteStore.join(node, "zarr.json")
    val v2 = ByteStore.join(node, ".zattrs")
    val json: JValue =
      if (ByteStore.isFile(v3))
        org.json4s.jackson.JsonMethods.parse(ByteStore.readString(v3)) \ "attributes"
      else if (ByteStore.isFile(v2))
        org.json4s.jackson.JsonMethods.parse(ByteStore.readString(v2))
      else JNothing
    def num(name: String): Option[Double] = (json \ name) match {
      case JDouble(d) => Some(d)
      case JInt(i) => Some(i.toDouble)
      case JLong(l) => Some(l.toDouble)
      case JDecimal(d) => Some(d.toDouble)
      case _ => None
    }
    // _Unsigned (xarray applies it on every backend): width from the
    // array's own dtype — v3 zarr.json data_type ("int16"), v2 .zarray
    // dtype ("<i2"). Anything but a signed int is a store error.
    val unsignedMod = (json \ "_Unsigned") match {
      case JString(s) if s.equalsIgnoreCase("true") =>
        val bytes =
          if (ByteStore.isFile(v3))
            (org.json4s.jackson.JsonMethods.parse(
              ByteStore.readString(v3)) \ "data_type") match {
              case JString("int8") => 1; case JString("int16") => 2
              case JString("int32") => 4; case JString("int64") => 8
              case other => throw new IllegalArgumentException(
                s"cf decode: $node has _Unsigned but data_type $other " +
                  "is not a signed integer")
            }
          else (org.json4s.jackson.JsonMethods.parse(ByteStore.readString(
            ByteStore.join(node, ".zarray"))) \ "dtype") match {
            case JString(dt) if dt.length >= 3 && dt(1) == 'i' =>
              dt.drop(2).toInt
            case other => throw new IllegalArgumentException(
              s"cf decode: $node has _Unsigned but dtype $other " +
                "is not a signed integer")
          }
        Some(math.pow(2.0, bytes * 8))
      case _ => None
    }
    CfAttrs(num("scale_factor").getOrElse(1.0), num("add_offset").getOrElse(0.0),
      num("_FillValue"), unsignedMod)
  }

  /** The `dataset` rows of the zarr mount at `store`, mask-and-scale
    * decoded from the array's attributes (v2 or v3). */
  def zarr(spark: org.apache.spark.sql.SparkSession, store: String,
      dataset: String): DataFrame =
    maskAndScale(
      spark.read.format("graft.sources.ZarrDataSource")
        .option("path", store).load()
        .where(col("dataset") === dataset),
      zarrCfAttrs(store, dataset))
}
