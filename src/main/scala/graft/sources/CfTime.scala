package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** CF time-coordinate decode — the `units: "<step> since <instant>"`
  * convention (CF §4.4) xarray uses to turn numeric time axes into
  * timestamps, lifted to mount level so a TIMESTAMP-bounded crop can
  * ride the same per-dimension chunk pruning as any value bbox:
  *
  *   numeric = (t - epoch) / step        (bounds, driver-side)
  *   timestamp_micros(epoch + d0 * step) (output column, codegen'd)
  *
  * Reference provenance: convml-data's trajectory/scene time filters
  * run through xarray `.sel(time=slice(...))` on exactly these units
  * (e.g. convml_data/sources/era5 hourly files). Only the standard
  * (proleptic Gregorian) calendar is supported; a `calendar` attribute
  * naming any other fails loudly rather than mis-dating — non-standard
  * CF calendars (360_day, noleap) change the epoch arithmetic itself.
  */
object CfTime {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"cf time: $msg")

  private val unitMicros: Map[String, Long] = Map(
    "microsecond" -> 1L, "millisecond" -> 1000L, "second" -> 1000000L,
    "minute" -> 60000000L, "hour" -> 3600000000L, "day" -> 86400000000L)

  /** Parse CF time units into (epoch micros, micros per step).
    * Accepts the udunits spellings xarray emits: plural or singular
    * unit names, `secs`/`mins`/`hrs` shorthands, an instant with a
    * date, optional time, optional fractional seconds, optional
    * `Z`/offset suffix (applied), optional `T` separator. */
  def parseUnits(units: String): (Long, Long) = {
    val (step, instant) = splitUnits(units)
    (parseInstantMicros(instant, units), step)
  }

  /** The ONE "<step> since <instant>" grammar — shared by the
    * classifier and the parser so they can never diverge (a units
    * string the classifier calls time-shaped MUST reach the parser's
    * step check, or month/year steps would silently decode as plain
    * numbers again). Compiled once. */
  private val UnitsGrammar = "(?i)^\\s*([a-z]+)\\s+since\\s+(.+?)\\s*$".r

  /** Does `units` match the "<step> since <instant>" GRAMMAR at all?
    * Distinct from parseability: "months since 2000-01-01" is
    * time-shaped but unsupported (variable-length steps), and callers
    * routing on this must refuse it loudly rather than fall back to a
    * plain-number decode — xarray/cftime raise on month/year steps. */
  private[sources] def looksLikeTimeUnits(units: String): Boolean =
    UnitsGrammar.matches(units)

  /** The shared "<step> since <instant>" grammar: (micros per step,
    * raw instant text). [[CfCalendar]] reuses this with its own
    * instant arithmetic. */
  private[sources] def splitUnits(units: String): (Long, String) = {
    units match {
      case UnitsGrammar(u, instant) =>
        val key = u.toLowerCase match {
          case "secs" | "sec" | "s" => "second"
          case "mins" | "min" => "minute"
          case "hrs" | "hr" | "h" => "hour"
          case other => other.stripSuffix("s")
        }
        val step = unitMicros.getOrElse(key,
          fail(s"unsupported unit '$u' in units string '$units'"))
        (step, instant)
      case _ => fail(s"units string '$units' is not '<step> since <instant>'")
    }
  }

  private def parseInstantMicros(instant: String, units: String): Long = {
    val re = ("^(\\d{1,4})-(\\d{1,2})-(\\d{1,2})" +
      "(?:[ T](\\d{1,2}):(\\d{1,2})(?::(\\d{1,2})(?:\\.(\\d{1,9}))?)?)?" +
      "(?:\\s*(Z|[+-]\\d{1,2}:?\\d{2}))?$").r
    instant match {
      case re(y, mo, d, h, mi, s, frac, tz) =>
        val ldt = java.time.LocalDateTime.of(y.toInt, mo.toInt, d.toInt,
          Option(h).map(_.toInt).getOrElse(0), Option(mi).map(_.toInt).getOrElse(0),
          Option(s).map(_.toInt).getOrElse(0),
          Option(frac).map(f => (f.padTo(9, '0').take(9)).toInt).getOrElse(0))
        val offset = Option(tz) match {
          case None | Some("Z") => java.time.ZoneOffset.UTC
          case Some(o) =>
            val c = if (o.contains(":")) o
              else o.take(o.length - 2) + ":" + o.takeRight(2)
            java.time.ZoneOffset.of(c)
        }
        val inst = ldt.toInstant(offset)
        Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000L),
          inst.getNano / 1000L)
      case _ => fail(s"cannot parse reference instant '$instant' in '$units'")
    }
  }

  /** Is `calendar` one of the proleptic-Gregorian spellings (or
    * absent, which CF defaults to standard)? */
  def isStandardCalendar(calendar: Option[String]): Boolean =
    calendar.map(_.toLowerCase).forall(c =>
      c == "standard" || c == "gregorian" || c == "proleptic_gregorian")

  /** Reject non-standard CF calendars: the numeric->timestamp map
    * below is proleptic-Gregorian only. Fixed-length model calendars
    * (360_day/noleap/all_leap) decode through [[CfCalendar]] instead —
    * to calendar-datetime STRINGS, never TIMESTAMP. */
  def requireStandardCalendar(calendar: Option[String], where: String): Unit =
    if (!isStandardCalendar(calendar))
      fail(s"$where uses calendar '${calendar.get}' — only standard/gregorian " +
        "decode to TIMESTAMP (fixed-length model calendars -> CfCalendar)")

  /** TIMESTAMP bounds -> the numeric coordinate range for a value crop.
    * Bounds parse like the reference instant (date, optional time/zone). */
  def numericRange(units: String, t0: String, t1: String): (Double, Double) = {
    val (epoch, step) = parseUnits(units)
    def num(t: String): Double =
      (parseInstantMicros(t, s"bound '$t'") - epoch).toDouble / step
    (num(t0), num(t1))
  }

  /** Decode a mount dimension column (`d0`...) to a TIMESTAMP via the
    * coordinate VALUES: callers pass the coordinate array read at plan
    * time, so the expression is `timestamp_micros(epoch + coord(dK) *
    * step)` with coord a broadcast-free literal map only when small —
    * for the common affine axis (coord = first + dK * stride, the ERA5
    * hourly shape) use [[affineTimestamp]] instead. */
  def affineTimestamp(dimCol: Column, units: String, first: Double,
      stride: Double): Column = {
    val (epoch, step) = parseUnits(units)
    // floor(x + 0.5) == Math.round: the SAME half-up rounding as
    // [[timestampFromValues]], so the affine and literal decode paths
    // agree to the microsecond on fractional-step units and pre-epoch
    // axes (a bare long cast truncates toward zero and biases pre-epoch
    // values upward by 1 us).
    timestamp_micros(lit(epoch) +
      floor((lit(first) + dimCol.cast("double") * lit(stride)) *
        lit(step.toDouble) + lit(0.5)).cast("long"))
  }

  /** Is the coordinate affine (evenly spaced)? Returns (first, stride)
    * when every step matches the first to within 1 ulp-scale epsilon. */
  def affineOf(coords: Array[Double]): Option[(Double, Double)] = {
    if (coords.length < 2) return coords.headOption.map((_, 1.0))
    val stride = coords(1) - coords(0)
    val eps = math.max(math.abs(stride), 1.0) * 1e-9
    val ok = (1 until coords.length).forall(i =>
      math.abs(coords(i) - coords(i - 1) - stride) <= eps)
    if (ok) Some((coords(0), stride)) else None
  }

  /** Row-wise decode for NON-affine axes (irregular campaign
    * timestamps, missing-step series): the coordinate VALUES become an
    * array literal indexed by the dim column — codegen'd, shuffle-free,
    * broadcast-free. Sized for the KB-scale coordinate arrays the crop
    * already reads driver-side; a lying dim value past the axis decodes
    * to null rather than erroring (the residual filters upstream keep
    * rows in range). */
  def timestampFromValues(dimCol: Column, units: String,
      coords: Array[Double]): Column = {
    val (epoch, step) = parseUnits(units)
    require(coords.length <= 1000000,
      s"coordinate axis of ${coords.length} values is beyond the literal " +
        "decode path — use affineTimestamp or decode downstream")
    val micros = coords.map(c => epoch + math.round(c * step))
    // try_element_at: an out-of-axis index is null, not an ANSI error
    timestamp_micros(try_element_at(typedlit(micros), dimCol.cast("int") + 1))
  }

  /** Turnkey HDF5 variant: read `coordDataset`'s units + values, prove
    * the axis affine, and return the decoded TIMESTAMP column for the
    * mount's `dimCol`. */
  def hdf5AffineTimestamp(path: String, coordDataset: String,
      dimCol: Column): Column = {
    val units = hdf5Units(path, coordDataset)
    val coords = GridFormat.Hdf5.arrayValues(path, coordDataset)
    val (first, stride) = affineOf(coords).getOrElse(
      fail(s"$path/$coordDataset is not evenly spaced — decode values row-wise"))
    affineTimestamp(dimCol, units, first, stride)
  }

  /** Turnkey zarr variant of [[hdf5AffineTimestamp]]. */
  def zarrAffineTimestamp(store: String, coordArray: String,
      dimCol: Column): Column = {
    val units = zarrUnits(store, coordArray)
    val coords = GridFormat.Zarr.arrayValues(store, coordArray)
    val (first, stride) = affineOf(coords).getOrElse(
      fail(s"$store/$coordArray is not evenly spaced — decode values row-wise"))
    affineTimestamp(dimCol, units, first, stride)
  }

  /** Turnkey netCDF-3 variant of [[hdf5AffineTimestamp]]. */
  def netcdf3AffineTimestamp(path: String, coordVar: String,
      dimCol: Column): Column = {
    val units = netcdf3Units(path, coordVar)
    val coords = GridFormat.NetCDF3.arrayValues(path, coordVar)
    val (first, stride) = affineOf(coords).getOrElse(
      fail(s"$path/$coordVar is not evenly spaced — decode values row-wise"))
    affineTimestamp(dimCol, units, first, stride)
  }

  // ---- per-mount units/calendar readers (driver-side metadata) ----------

  /** `units`/`calendar` attrs of an HDF5 (netCDF-4) coordinate dataset. */
  def hdf5Units(path: String, dataset: String): String =
    hdf5UnitsOpt(path, dataset)
      .getOrElse(fail(s"$path/$dataset carries no units attribute"))

  /** As [[hdf5Units]] but None when the attribute is absent (the
    * turnkey open treats such an axis as a plain numeric coord). */
  private[sources] def hdf5UnitsOpt(path: String, dataset: String): Option[String] = {
    val (u, c) = hdf5TimeAttrs(path, dataset)
    requireStandardCalendar(c, s"$path/$dataset")
    u
  }

  /** Raw (units, calendar) attrs with NO calendar gate — the routing
    * layers ([[GridOpen]], [[CoordCrop]] catalogs) send standard
    * calendars to the TIMESTAMP decode and fixed-length ones to
    * [[CfCalendar]]. */
  private[sources] def hdf5TimeAttrs(path: String,
      dataset: String): (Option[String], Option[String]) = {
    val in = new PagedFileInput(path)
    val attrs = try HDF5.attributes(in).getOrElse(dataset,
      fail(s"no dataset '$dataset' in $path")) finally in.close()
    def str(n: String) = attrs.find(_.name == n).flatMap(_.str)
    (str("units"), str("calendar"))
  }

  /** `units`/`calendar` attrs of a netCDF-3 coordinate variable. */
  def netcdf3Units(path: String, varName: String): String =
    netcdf3UnitsOpt(path, varName)
      .getOrElse(fail(s"$path/$varName carries no units attribute"))

  private[sources] def netcdf3UnitsOpt(path: String, varName: String): Option[String] = {
    val (u, c) = netcdf3TimeAttrs(path, varName)
    requireStandardCalendar(c, s"$path/$varName")
    u
  }

  private[sources] def netcdf3TimeAttrs(path: String,
      varName: String): (Option[String], Option[String]) = {
    val h = NetCDF3ChunkIngest.headerOf(path)
    val v = h.vars.find(_.name == varName)
      .getOrElse(fail(s"no variable '$varName' in $path"))
    def str(n: String) = v.attrs.find(_.name == n).map(_.value).collect {
      case s: String => s
    }
    (str("units"), str("calendar"))
  }

  /** `units`/`calendar` attrs of a zarr coordinate array (v2 `.zattrs`
    * or v3 `zarr.json` attributes). */
  def zarrUnits(store: String, dataset: String): String =
    zarrUnitsOpt(store, dataset)
      .getOrElse(fail(s"$store/$dataset carries no units attribute"))

  private[sources] def zarrUnitsOpt(store: String, dataset: String): Option[String] = {
    val (u, c) = zarrTimeAttrs(store, dataset)
    requireStandardCalendar(c, s"$store/$dataset")
    u
  }

  private[sources] def zarrTimeAttrs(store: String,
      dataset: String): (Option[String], Option[String]) = {
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
    def str(n: String) = (json \ n) match {
      case JString(s) => Some(s)
      case _ => None
    }
    (str("units"), str("calendar"))
  }
}
