package graft.kql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** KQL scalar function registry → Spark `Column` combinators (SURVEY.md
  * §2.8). Everything here stays inside whole-stage codegen: built-in
  * functions only, no UDFs. Functions needing literal/typed argument
  * inspection are special-cased in ExprPlanner instead.
  */
object Functions {

  /** Regex-quote a literal string for use in Spark's regex-based fns. */
  def rxQuote(s: String): String = java.util.regex.Pattern.quote(s)

  private def f(fn: PartialFunction[List[Column], Column]): PartialFunction[List[Column], Column] = fn

  /** Each entry is defined exactly on the argument lists it accepts, so
    * the planner can reject any other arity with a typed error. */
  val registry: Map[String, PartialFunction[List[Column], Column]] = Map(
    // ------------------------------------------------------------ string
    "strlen" -> f { case c :: Nil => length(c).cast("long") },
    "strcmp" -> f { case a :: b :: Nil =>
      when(a < b, -1L).when(a > b, 1L).otherwise(0L) },
    "isascii" -> f { case c :: Nil => c.rlike("^\\p{ASCII}*$") },
    "new_guid" -> f { case Nil => uuid() },
    "tolower" -> f { case c :: Nil => lower(c) },
    "toupper" -> f { case c :: Nil => upper(c) },
    "strcat" -> f { case cs => concat_ws("", cs: _*) }, // KQL: nulls act as empty
    "strcat_delim" -> f { case d :: rest => call_function("concat_ws", (d :: rest): _*) },
    "strcat_array" -> f { case a :: d :: Nil => call_function("array_join", a, d) },
    "reverse" -> f { case c :: Nil => reverse(c) },
    "strrep" -> f { case c :: n :: Nil => repeat(c, n) },
    "indexof" -> f { case s :: sub :: Nil => (call_function("instr", s, sub) - 1).cast("long") },
    "trim_ws" -> f { case c :: Nil => trim(c) },
    "hash_sha256" -> f { case c :: Nil => sha2(c.cast("string"), 256) },
    "hash_md5" -> f { case c :: Nil => md5(c.cast("string")) },
    "hash_sha1" -> f { case c :: Nil => sha1(c.cast("string")) },
    // ADX erf/erfc: full double precision via the regularized incomplete
    // gamma P(1/2, x²) (series / Lentz continued fraction) — iterative
    // with data-dependent exit, hence a compact UDF (the beta_cdf trade)
    "erf" -> f { case x :: Nil => erfUdf(x.cast("double")) },
    "erfc" -> f { case x :: Nil => lit(1.0) - erfUdf(x.cast("double")) },
    // ingestion_time(): per-record ingestion timestamp. The parquet
    // file's modification time is the single-writer analog of ADX's
    // per-extent ingestion time (a metastore supplies the real value on
    // a cluster); resolves only over file-backed sources, by design.
    "ingestion_time" -> f { case Nil =>
      col("_metadata").getField("file_modification_time") },
    "hash" -> f { case c :: Nil => xxhash64(c)
                  case c :: m :: Nil => pmod(xxhash64(c), m.cast("long")) },
    "hash_many" -> f { case cs => xxhash64(cs: _*) },
    "format_number" -> f { case c :: d :: Nil =>
      call_function("format_number", c, d.cast("int")) },
    // component encoding = RFC 3986 unreserved set (A-Za-z0-9-_.~),
    // everything else %XX — patch the three spots where Java's
    // form-encoder (url_encode) disagrees: space→'+' (→%20), '~'
    // escaped (→ keep), '*' kept (→%2A). Post-encode replacements are
    // safe: a literal '%'/'~'-bearing input was already %-escaped.
    "url_encode_component" -> f { case c :: Nil =>
      regexp_replace(regexp_replace(regexp_replace(url_encode(c),
        "\\+", "%20"), "%7E", "~"), "\\*", "%2A") },
    "unicode_codepoints_from_string" -> f { case c :: Nil => codepointsFrom(c) },
    // unicode_codepoints_to_string is planner-side (needs arg types to
    // tell scalar codepoints from codepoint arrays)
    "treepath" -> f { case c :: Nil => treepathUdf(c.cast("string")) },
    // unit conversions (KQL convert_* family; literal or column units,
    // unknown units → null)
    "convert_angle" -> f { case v :: fr :: to :: Nil => convertAngle(v, fr, to) },
    "convert_length" -> f { case v :: fr :: to :: Nil => convertLength(v, fr, to) },
    "convert_mass" -> f { case v :: fr :: to :: Nil => convertMass(v, fr, to) },
    "convert_speed" -> f { case v :: fr :: to :: Nil => convertSpeed(v, fr, to) },
    "convert_volume" -> f { case v :: fr :: to :: Nil => convertVolume(v, fr, to) },
    "convert_energy" -> f { case v :: fr :: to :: Nil => convertEnergy(v, fr, to) },
    "convert_temperature" -> f { case v :: fr :: to :: Nil =>
      convertTemperature(v, fr, to) },
    "base64_encode_tostring" -> f { case c :: Nil => base64(c.cast("binary")) },
    "base64_decode_tostring" -> f { case c :: Nil => decode(unbase64(c), "UTF-8") },
    // bag_zip(keys, values): property bag from parallel arrays — the
    // result length is the KEYS length (extra values ignored, missing
    // values null, per the KQL docs); ignoreNullFields=false keeps the
    // padded nulls visible in the JSON
    "bag_zip" -> f { case k :: v :: Nil =>
      val ks = transform(k, x => x.cast("string"))
      val pairs = transform(ks, (key, i) =>
        struct(key.as("key"), when(i < size(v), element_at(v, i + 1)).as("value")))
      // drop null keys and keep the FIRST occurrence of a duplicate —
      // map_from_arrays under the default EXCEPTION dedup policy would
      // otherwise kill the whole query on one malformed bag (registry
      // invalid-input convention: degrade, never throw)
      val cleaned = filter(pairs, (p, i) =>
        p("key").isNotNull && array_position(slice(ks, lit(1), i), p("key")) === 0)
      to_json(map_from_entries(cleaned), Map("ignoreNullFields" -> "false")) },
    "base64_encode_fromguid" -> f { case c :: Nil => base64FromGuidUdf(c.cast("string")) },
    "base64_decode_toguid" -> f { case c :: Nil => base64ToGuidUdf(c.cast("string")) },
    "url_encode" -> f { case c :: Nil => url_encode(c) },
    "url_decode" -> f { case c :: Nil => url_decode(c) },
    "isempty" -> f { case c :: Nil => c.isNull || c === lit("") },
    "not" -> f { case c :: Nil => !c.cast("boolean") },
    "cot" -> f { case c :: Nil => lit(1.0) / tan(c) },
    // scalar range(start, stop, step) → dynamic array (inclusive stop)
    "range" -> f {
      case a :: b :: Nil => sequence(a, b)
      case a :: b :: st :: Nil => sequence(a, b, st) },
    "hash_combine" -> f { case cs => xxhash64(cs: _*) },
    "unixtime_nanoseconds_todatetime" -> f { case c :: Nil =>
      // exact ns→µs floor division (decimal path — double division loses
      // ULPs at 1.7e18-scale epochs, see Catalog.normalize)
      val ns = c.cast("long")
      timestamp_micros(((ns - pmod(ns, lit(1000L)))
        .cast("decimal(38,0)") / 1000).cast("long")) },
    "isnotempty" -> f { case c :: Nil => c.isNotNull && c =!= lit("") },
    "isnull" -> f { case c :: Nil => c.isNull },
    "isnotnull" -> f { case c :: Nil => c.isNotNull },
    // --------------------------------------------------------- conversion
    "tostring" -> f { case c :: Nil => coalesce(c.cast("string"), lit("")) },
    // canonical compact JSON for dynamic values (KQL dynamic_to_json)
    "dynamic_to_json" -> f { case c :: Nil => to_json(c) },
    "toint" -> f { case c :: Nil => c.cast("int") },
    "tolong" -> f { case c :: Nil => c.cast("long") },
    "todouble" -> f { case c :: Nil => c.cast("double") },
    "toreal" -> f { case c :: Nil => c.cast("double") },
    "todecimal" -> f { case c :: Nil => c.cast("decimal(38,18)") },
    "tobool" -> f { case c :: Nil => c.cast("boolean") },
    "toboolean" -> f { case c :: Nil => c.cast("boolean") },
    "todatetime" -> f { case c :: Nil => c.cast("timestamp") },
    "toguid" -> f { case c :: Nil => c.cast("string") },
    "tohex" -> f { case c :: Nil => lower(hex(c)) },
    // --------------------------------------------------------------- math
    "abs" -> f { case c :: Nil => abs(c) },
    "ceiling" -> f { case c :: Nil => ceil(c) },
    "exp" -> f { case c :: Nil => exp(c) },
    "exp2" -> f { case c :: Nil => pow(lit(2d), c) },
    "exp10" -> f { case c :: Nil => pow(lit(10d), c) },
    "log" -> f { case c :: Nil => log(c) },
    "log2" -> f { case c :: Nil => log2(c) },
    "log10" -> f { case c :: Nil => log10(c) },
    "pow" -> f { case b :: e :: Nil => pow(b, e) },
    "sqrt" -> f { case c :: Nil => sqrt(c) },
    "sign" -> f { case c :: Nil => signum(c) },
    "pi" -> f { case Nil => lit(math.Pi) },
    "degrees" -> f { case c :: Nil => degrees(c) },
    "radians" -> f { case c :: Nil => radians(c) },
    "sin" -> f { case c :: Nil => sin(c) }, "cos" -> f { case c :: Nil => cos(c) },
    "tan" -> f { case c :: Nil => tan(c) }, "asin" -> f { case c :: Nil => asin(c) },
    "acos" -> f { case c :: Nil => acos(c) }, "atan" -> f { case c :: Nil => atan(c) },
    "atan2" -> f { case y :: x :: Nil => atan2(y, x) },
    "isnan" -> f { case c :: Nil => isnan(c) },
    "isinf" -> f { case c :: Nil => c === lit(Double.PositiveInfinity) || c === lit(Double.NegativeInfinity) },
    "isfinite" -> f { case c :: Nil => !isnan(c) && c =!= lit(Double.PositiveInfinity) && c =!= lit(Double.NegativeInfinity) },
    "max_of" -> f { case cs => greatest(cs: _*) },
    "min_of" -> f { case cs => least(cs: _*) },
    "coalesce" -> f { case cs => coalesce(cs: _*) },
    // ----------------------------------------------------------- datetime
    // now(offset) shifts like ago(): a timespan literal plans to its micros
    "now" -> f {
      case Nil => current_timestamp()
      case off :: Nil => timestamp_micros(unix_micros(current_timestamp()) + off)
    },
    "getyear" -> f { case c :: Nil => year(c) },
    "getmonth" -> f { case c :: Nil => month(c) },
    "dayofmonth" -> f { case c :: Nil => dayofmonth(c) },
    "dayofyear" -> f { case c :: Nil => dayofyear(c) },
    "hourofday" -> f { case c :: Nil => hour(c) },
    "minuteofhour" -> f { case c :: Nil => minute(c) },
    "secondofminute" -> f { case c :: Nil => second(c) },
    // KQL dayofweek(ts) = timespan since Sunday → expose as int days 0-6
    "dayofweek" -> f { case c :: Nil => dayofweek(c) - 1 },
    "week_of_year" -> f { case c :: Nil => weekofyear(c) },
    "monthofyear" -> f { case c :: Nil => month(c) },
    "startofday" -> f { case c :: Nil => date_trunc("day", c) },
    "startofmonth" -> f { case c :: Nil => date_trunc("month", c) },
    "startofyear" -> f { case c :: Nil => date_trunc("year", c) },
    // KQL weeks start Sunday; Spark date_trunc('week') is Monday (SURVEY §7.4)
    "startofweek" -> f { case c :: Nil =>
      to_timestamp(date_sub(to_date(c), dayofweek(c) - 1)) },
    "endofweek" -> f { case c :: Nil =>
      timestamp_micros(unix_micros(
        to_timestamp(date_add(date_sub(to_date(c), dayofweek(c) - 1), 7))) - 1L) },
    "endofday" -> f { case c :: Nil =>
      timestamp_micros(unix_micros(date_trunc("day", c)) + 86400000000L - 1L) },
    "endofmonth" -> f { case c :: Nil =>
      timestamp_micros(unix_micros(add_months(date_trunc("month", c), 1).cast("timestamp")) - 1L) },
    "endofyear" -> f { case c :: Nil =>
      timestamp_micros(unix_micros(add_months(date_trunc("year", c), 12).cast("timestamp")) - 1L) },
    "startofquarter" -> f { case c :: Nil => date_trunc("quarter", c) },
    "endofquarter" -> f { case c :: Nil =>
      timestamp_micros(unix_micros(add_months(date_trunc("quarter", c), 3).cast("timestamp")) - 1L) },
    "unixtime_seconds_todatetime" -> f { case c :: Nil => timestamp_seconds(c) },
    "unixtime_milliseconds_todatetime" -> f { case c :: Nil => timestamp_millis(c.cast("long")) },
    "unixtime_microseconds_todatetime" -> f { case c :: Nil => timestamp_micros(c.cast("long")) },
    "make_datetime" -> f {
      case y :: m :: d :: Nil => make_timestamp(y, m, d, lit(0), lit(0), lit(0))
      case y :: m :: d :: h :: mi :: s :: Nil => make_timestamp(y, m, d, h, mi, s)
    },
    // ------------------------------------------------- dynamic/array/json
    "parse_json" -> f { case c :: Nil => c },
    "todynamic" -> f { case c :: Nil => c },
    "pack_array" -> f { case cs => array(cs: _*) },
    "array_length" -> f { case c :: Nil => size(c).cast("long") },
    "array_concat" -> f { case cs => concat(cs: _*) },
    "array_slice" -> f { case a :: lo :: hi :: Nil => slice(a, lo + 1, hi - lo + 1) }, // 0-based inclusive
    "array_index_of" -> f {
      case a :: v :: Nil => (array_position(a, v) - 1).cast("long")
      // full form: (arr, value, start[, length[, occurrence]]) — 0-based
      // search window + nth match, computed over the index sequence
      case a :: v :: rest =>
        val start = rest.head.cast("long")
        val len = rest.drop(1).headOption.map(_.cast("long")).getOrElse(lit(-1L))
        val occ = rest.drop(2).headOption.map(_.cast("long")).getOrElse(lit(1L))
        val hi0 = size(a).cast("long") - 1L
        val hi = when(len < 0L, hi0).otherwise(least(start + len - 1L, hi0))
        val found = aggregate(sequence(start + 1L, hi + 1L),
          struct(lit(0L).as("seen"), lit(-1L).as("idx")),
          (acc, i) => {
            val hit = element_at(a, i.cast("int")) === v
            val seen = acc.getField("seen") + when(hit, 1L).otherwise(0L)
            struct(seen.as("seen"),
              when(acc.getField("idx") >= 0L, acc.getField("idx"))
                .when(hit && seen === occ, i.cast("long") - 1L)
                .otherwise(lit(-1L)).as("idx"))
          },
          acc => acc.getField("idx"))
        // hi < start covers the length=0 empty window: without the guard
        // sequence(start+1, start) would default to step -1 and scan
        // OUTSIDE the requested window (r2 ADVICE)
        when(start < 0L || start > hi0 || hi < start, lit(-1L))
          .otherwise(found) },
    "array_sort_asc" -> f {
      case a :: Nil => array_sort(a)
      case arrs => parallelSort(arrs, asc = true) },
    "array_sort_desc" -> f {
      case a :: Nil => sort_array(a, asc = false)
      case arrs => parallelSort(arrs, asc = false) },
    "array_reverse" -> f { case a :: Nil => reverse(a) },
    "array_sum" -> f { case a :: Nil =>
      aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double")) },
    "array_avg" -> f { case a :: Nil =>
      aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double")) / size(a) },
    "array_min" -> f { case a :: Nil => array_min(a) },
    "array_max" -> f { case a :: Nil => array_max(a) },
    "set_union" -> f { case a :: b :: Nil => array_sort(array_union(a, b)) },
    "set_intersect" -> f { case a :: b :: Nil => array_sort(array_intersect(a, b)) },
    "set_difference" -> f { case a :: b :: Nil => array_sort(array_except(a, b)) },
    "set_has_element" -> f { case a :: v :: Nil => array_contains(a, v) },
    "jaccard_index" -> f { case a :: b :: Nil =>
      size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double") },
    // element-wise conditional over aligned arrays (KQL array_iff /
    // array_case over series); all three arguments are arrays
    "array_iff" -> f { case c :: t :: fl :: Nil =>
      transform(sequence(lit(1), size(c)), i =>
        when(element_at(c, i).cast("boolean"), element_at(t, i))
          .otherwise(element_at(fl, i))) },
    // split at 0-based indices → array of sub-arrays (KQL array_split)
    "array_split" -> f { case a :: idx :: Nil =>
      val bounds = concat(array(lit(0L)),
        transform(idx, x => x.cast("long")), array(size(a).cast("long")))
      transform(sequence(lit(1), size(bounds) - 1), i =>
        slice(a, (element_at(bounds, i) + 1).cast("int"),
          (element_at(bounds, i + 1) - element_at(bounds, i)).cast("int"))) },
    "array_repeat" -> f { case v :: n :: Nil => array_repeat(v, n.cast("int")) },
    "repeat" -> f { case v :: n :: Nil => array_repeat(v, n.cast("int")) },
    "zip" -> f { case a :: b :: Nil => arrays_zip(a, b) },
    // rotate = cyclic shift; shift = drop + pad (KQL: negative n reverses
    // direction for all four)
    "array_rotate_left" -> f { case a :: n :: Nil => Functions.rotateLeft(a, n) },
    "array_rotate_right" -> f { case a :: n :: Nil => Functions.rotateLeft(a, -n) },
    "array_shift_left" -> f {
      case a :: n :: Nil => Functions.shiftLeft(a, n, lit(null))
      case a :: n :: fill :: Nil => Functions.shiftLeft(a, n, fill) },
    "array_shift_right" -> f {
      case a :: n :: Nil => Functions.shiftLeft(a, -n, lit(null))
      case a :: n :: fill :: Nil => Functions.shiftLeft(a, -n, fill) },
    "bag_keys" -> f { case c :: Nil => json_object_keys(c) },
    "bag_has_key" -> f { case b :: k :: Nil =>
      array_contains(json_object_keys(b), k) },
    // drop listed keys from a JSON bag (KQL bag_remove_keys); values pass
    // through the string map (§1.2 dynamic mapping), like bag_merge
    "bag_remove_keys" -> f { case b :: ks :: Nil =>
      val m = from_json(b, org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      to_json(map_filter(m, (k, _) => !array_contains(ks, k))) },
    // set/overwrite one key (KQL bag_set_key)
    "bag_set_key" -> f { case b :: k :: v :: Nil =>
      val m = from_json(b, org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      to_json(map_concat(map_filter(m, (mk, _) => mk =!= k),
        map(k, v.cast("string")))) },
    // merge JSON property bags, first-bag-wins on duplicate keys (KQL
    // bag_merge); bags are JSON strings (§1.2 dynamic mapping)
    "bag_merge" -> f { case a :: b :: Nil => mergeBags(a, b) },
    // version string → comparable decimal: 4 dot-parts, each 8 digits
    // (KQL parse_version)
    "parse_version" -> f { case s :: Nil =>
      val p = split(s, "\\.")
      val part = (i: Int) =>
        lpad(coalesce(element_at(p, i), lit("0")), 8, "0")
      concat(part(1), part(2), part(3), part(4)).cast("decimal(38,0)") },
    // pack_all() reads the frame's columns, so Planner.planApp plans its
    // one (zero-argument) form; any argument list lands here and is refused
    "pack_all" -> f(PartialFunction.empty),
    // KQL string_size = UTF-8 byte length (strlen is char length)
    "string_size" -> f { case s :: Nil => octet_length(s).cast("long") },
    // 0-based first-match position, -1 when absent (KQL indexof_regex);
    // regexp_instr is 1-based with 0 = no match
    "indexof_regex" -> f { case s :: rx :: Nil =>
      (call_function("regexp_instr", s, rx) - 1).cast("long") },
    // Spark StringType is UTF-8 by construction: valid whenever non-null
    "isutf8" -> f { case s :: Nil => s.isNotNull },
    // whole-term dotted-quad match, octets range-checked 0-255
    "has_ipv4" -> f { case s :: Nil =>
      s.rlike("(?<![\\d.])((25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)\\.){3}" +
        "(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(?![\\d.])") },
    // escape regex metacharacters (KQL regex_quote)
    "regex_quote" -> f { case s :: Nil =>
      regexp_replace(s, "([.^$|?*+()\\[\\]{}\\\\])", "\\\\$1") },
    // ------------------------------------------------------------ bitwise
    "binary_and" -> f { case a :: b :: Nil => a.cast("long").bitwiseAND(b.cast("long")) },
    "binary_or" -> f { case a :: b :: Nil => a.cast("long").bitwiseOR(b.cast("long")) },
    "binary_xor" -> f { case a :: b :: Nil => a.cast("long").bitwiseXOR(b.cast("long")) },
    "binary_not" -> f { case a :: Nil => bitwise_not(a.cast("long")) },
    "binary_shift_left" -> f { case a :: n :: Nil =>
      call_function("shiftleft", a.cast("long"), n.cast("int")) },
    "binary_shift_right" -> f { case a :: n :: Nil =>
      call_function("shiftright", a.cast("long"), n.cast("int")) },
    "bitset_count_ones" -> f { case a :: Nil => bit_count(a.cast("long")).cast("long") },
    // ------------------------------------------------------------ unicode
    // KQL to_utf8 = string → codepoint array; make_string is its inverse.
    // Route through UTF-32 (fixed 4-byte units, big-endian without BOM) so
    // supplementary-plane chars survive — no UDF, hex arithmetic only.
    "to_utf8" -> f { case s :: Nil =>
      val bin = encode(s, "utf-32")
      transform(sequence(lit(1), (length(bin) / 4).cast("int")),
        i => conv(hex(bin).substr(i * 8 - 7, lit(8)), 16, 10).cast("long")) },
    "make_string" -> f { case a :: Nil =>
      array_join(transform(a,
        cp => decode(unhex(lpad(hex(cp), 8, "0")), "utf-32")), "") },
    "base64_decode_toarray" -> f { case s :: Nil =>
      val bin = unbase64(s)
      transform(sequence(lit(1), length(bin)),
        i => conv(hex(bin).substr(i * 2 - 1, lit(2)), 16, 10).cast("long")) },
    // ---------------------------------------------------------- type info
    "gettype" -> f { case c :: Nil =>
      val t = call_function("typeof", c)
      when(c.isNull, lit("null"))
        .when(t.startsWith("array"), lit("array"))
        .when(t.startsWith("map") || t.startsWith("struct"), lit("dictionary"))
        .when(t.startsWith("decimal"), lit("decimal"))
        .when(t === "bigint", lit("long"))
        .when(t.isin("int", "smallint", "tinyint"), lit("int"))
        .when(t.isin("double", "float"), lit("real"))
        .when(t === "boolean", lit("bool"))
        .when(t === "timestamp", lit("datetime"))
        .otherwise(lit("string")) },
    "format_bytes" -> f {
      case v :: Nil => formatBytes(v, lit(0))
      case v :: p :: Nil => formatBytes(v, p) },
    // ------------------------------------------------------ timezone
    "datetime_utc_to_local" -> f { case ts :: tz :: Nil => from_utc_timestamp(ts, tz) },
    "datetime_local_to_utc" -> f { case ts :: tz :: Nil => to_utc_timestamp(ts, tz) },
    // ------------------------------------------- time-series (§2.9)
    // All pure higher-order array expressions — codegen-compatible, no UDFs.
    "series_fit_line" -> f { case a :: Nil => seriesFitLine(a) },
    // simplified STL (KQL series_decompose with a KNOWN period — the
    // autodetect/FFT path stays out of scope, SURVEY §2.9): trend =
    // centered moving average, seasonal = per-phase mean of the
    // detrended series, baseline = trend + seasonal, residual = rest
    "series_decompose" -> f {
      // no/auto period (KQL -1): ACF-autodetected inside the UDF
      case a :: Nil => seriesDecompose(a, lit(-1))
      case a :: p :: Nil => seriesDecompose(a, p) },
    // Welch's unequal-variance t-test p-value from the six sufficient
    // statistics; two-sided p = I_{df/(df+t²)}(df/2, ½) — the same
    // regularized incomplete beta as beta_cdf
    "welch_test" -> f { case m1 :: v1 :: n1 :: m2 :: v2 :: n2 :: Nil =>
      val a1 = v1.cast("double") / n1.cast("double")
      val a2 = v2.cast("double") / n2.cast("double")
      val t2 = pow(m1.cast("double") - m2.cast("double"), 2) / (a1 + a2)
      val dfW = pow(a1 + a2, 2) /
        (pow(a1, 2) / (n1.cast("double") - 1) + pow(a2, 2) / (n2.cast("double") - 1))
      betaCdfUdf(dfW / (dfW + t2), dfW / 2, lit(0.5)) },
    // anomaly flags (-1/0/1): Tukey outlier score of the decomposition
    // residual against the threshold (default 1.5 ⇒ any nonzero score)
    "series_decompose_anomalies" -> f {
      case a :: p :: Nil =>
        transform(seriesOutliers(seriesDecompose(a, p).getField("residual")),
          x => when(x > 0d, 1L).when(x < 0d, -1L).otherwise(0L))
      case a :: p :: t :: Nil =>
        val sc = seriesOutliers(seriesDecompose(a, p).getField("residual"))
        val excess = t.cast("double") - 1.5
        transform(sc, x => when(x > excess, 1L).when(x < -excess, -1L)
          .otherwise(0L)) },
    "series_fir" -> f { case a :: coefs :: Nil => seriesFir(a, coefs) },
    "series_dtw" -> f { case a :: b :: Nil => seriesDtw(a, b) },
    "series_iir" -> f { case x :: b :: a :: Nil => seriesIir(x, b, a) },
    "series_acf" -> f {
      case a :: Nil => seriesAcf(a, lit(8))
      case a :: l :: Nil => seriesAcf(a, l) },
    "series_xcorr" -> f {
      case a :: b :: Nil => seriesXcorr(a, b, lit(4))
      case a :: b :: l :: Nil => seriesXcorr(a, b, l) },
    "series_fit_2lines" -> f { case a :: Nil => seriesFit2Udf(a.cast("array<double>")) },
    // degree-k polynomial least squares (x = 0..n−1): normal equations +
    // Gaussian elimination with partial pivoting; coefficients
    // high-degree-first like KQL. Iterative solve ⇒ compact UDF.
    "series_fit_poly" -> f {
      case a :: Nil => seriesFitPolyUdf(a.cast("array<double>"), lit(1))
      case a :: d :: Nil => seriesFitPolyUdf(a.cast("array<double>"), d.cast("int")) },
    // *_dynamic variants: same fit, packed as a JSON bag (KQL dynamic)
    "series_fit_line_dynamic" -> f { case a :: Nil => to_json(seriesFitLine(a)) },
    "series_fit_2lines_dynamic" -> f { case a :: Nil =>
      to_json(seriesFit2Udf(a.cast("array<double>"))) },
    // discrete Fourier transform of a (complex) series — struct of
    // aligned (re, im) arrays, matching the fit/decompose struct
    // convention; radix-2 iterative for power-of-two lengths, direct
    // DFT otherwise (compact-UDF trade, COVERAGE §2.11)
    "series_fft" -> f {
      case a :: Nil => seriesFftUdf(a.cast("array<double>"),
        lit(null).cast("array<double>"), lit(false))
      case a :: b :: Nil => seriesFftUdf(a.cast("array<double>"),
        b.cast("array<double>"), lit(false)) },
    "series_ifft" -> f {
      case a :: Nil => seriesFftUdf(a.cast("array<double>"),
        lit(null).cast("array<double>"), lit(true))
      case a :: b :: Nil => seriesFftUdf(a.cast("array<double>"),
        b.cast("array<double>"), lit(true)) },
    "series_periods_detect" -> f {
      case a :: minP :: maxP :: k :: Nil => seriesPeriodsDetect(a, minP, maxP, k)
      case a :: Nil => seriesPeriodsDetect(a, lit(2), lit(0), lit(1)) },
    // score CALLER-GIVEN candidate periods with the same ACF measure
    // the detector uses (KQL series_periods_validate)
    "series_periods_validate" -> f { case a :: rest if rest.nonEmpty =>
      seriesPeriodsValidateUdf(a.cast("array<double>"),
        array(rest.map(_.cast("int")): _*)) },
    // Tukey-fence outlier scores (k=1.5): 0 inside the fences, distance
    // past the fence in IQR units outside (sign marks the direction)
    "series_outliers" -> f { case a :: Nil => seriesOutliers(a) },
    "series_stats_dynamic" -> f { case a :: Nil => seriesStats(a) },
    // element-wise arithmetic / comparison over aligned series (KQL
    // series_add family) — zip_with keeps everything in codegen
    "series_add" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x + y) },
    "series_subtract" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x - y) },
    "series_multiply" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x * y) },
    "series_divide" -> f { case a :: b :: Nil =>
      // cast both sides: Column./ on two longs is integer division
      zip_with(a, b, (x, y) => x.cast("double") / y.cast("double")) },
    "series_pow" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => pow(x, y)) },
    "series_atan2" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => atan2(x, y)) },
    "series_greater" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x > y) },
    "series_greater_equals" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x >= y) },
    "series_less" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x < y) },
    "series_less_equals" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x <= y) },
    "series_equals" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x === y) },
    "series_not_equals" -> f { case a :: b :: Nil => zip_with(a, b, (x, y) => x =!= y) },
    "series_abs" -> f { case a :: Nil => transform(a, x => abs(x)) },
    "series_sign" -> f { case a :: Nil => transform(a, x => signum(x).cast("double")) },
    "series_ceiling" -> f { case a :: Nil => transform(a, x => ceil(x).cast("double")) },
    "series_floor" -> f { case a :: Nil => transform(a, x => floor(x).cast("double")) },
    "series_log" -> f { case a :: Nil => transform(a, x => log(x)) },
    "series_exp" -> f { case a :: Nil => transform(a, x => exp(x)) },
    "series_sqrt" -> f { case a :: Nil => transform(a, x => sqrt(x)) },
    "series_sin" -> f { case a :: Nil => transform(a, x => sin(x)) },
    "series_cos" -> f { case a :: Nil => transform(a, x => cos(x)) },
    "series_tan" -> f { case a :: Nil => transform(a, x => tan(x)) },
    "series_asin" -> f { case a :: Nil => transform(a, x => asin(x)) },
    "series_acos" -> f { case a :: Nil => transform(a, x => acos(x)) },
    "series_atan" -> f { case a :: Nil => transform(a, x => atan(x)) },
    // vector reductions (shared with the embedding/similarity path)
    "series_sum" -> f { case a :: Nil =>
      aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double")) },
    "series_magnitude" -> f { case a :: Nil =>
      sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double"))) },
    "series_dot_product" -> f { case a :: b :: Nil => seriesDot(a, b) },
    "series_cosine_similarity" -> f { case a :: b :: Nil =>
      val mag = (v: Column) =>
        sqrt(aggregate(v, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))
      seriesDot(a, b) / (mag(a) * mag(b)) },
    "series_pearson_correlation" -> f { case a :: b :: Nil => seriesPearson(a, b) },
    // gap fills (nulls from make-series default=null)
    "series_fill_const" -> f { case a :: v :: Nil =>
      transform(a, x => coalesce(x, v)) },
    "series_fill_forward" -> f { case a :: Nil => fillForward(a) },
    "series_fill_backward" -> f { case a :: Nil => reverse(fillForward(reverse(a))) },
    "series_fill_linear" -> f { case a :: Nil => fillLinear(a) },
    "dcount_hll" -> f { case c :: Nil => hll_sketch_estimate(c) },
    // t-digest extractors (graft.sketch.TDigest — the percentile
    // counterpart of the hll pair above; percent scale 0–100 like
    // percentile())
    "percentile_tdigest" -> f { case s :: p :: Nil =>
      graft.sketch.TDigest.percentileTDigest(s, p) },
    // percentiles_array form over one sketch (the percentile(s) naming
    // convention applied to the tdigest extractor)
    "percentiles_array_tdigest" -> f { case s :: ps if ps.nonEmpty =>
      array(ps.map(p => graft.sketch.TDigest.percentileTDigest(s, p)): _*) },
    "rank_tdigest" -> f { case s :: x :: Nil =>
      graft.sketch.TDigest.rankTDigest(s, x) },
    // ------------------------------------------------------------- geo
    "geo_distance_2points" -> f { case lon1 :: lat1 :: lon2 :: lat2 :: Nil =>
      haversineMeters(lon1, lat1, lon2, lat2) },
    "geo_point_in_circle" -> f { case lon :: lat :: cLon :: cLat :: radius :: Nil =>
      haversineMeters(lon, lat, cLon, cLat) <= radius.cast("double") },
    "geo_distance_point_to_line" -> f { case lon :: lat :: line :: Nil =>
      geoDistancePointToLine(lon, lat, line) },
    // -------------------------------------------------------- IP (§2.8.7)
    "parse_ipv4" -> f { case s :: Nil => parseIpv4(s) },
    // mask via subtraction of the low-bit remainder: 2^(32−p) is exact
    // in a double for p ∈ [0, 32], so the block size round-trips the
    // cast (no Column-arg shift exists in the functions API)
    "parse_ipv4_mask" -> f { case s :: p :: Nil =>
      val ip = parseIpv4(s)
      val block = pow(lit(2.0), lit(32) - p.cast("double")).cast("long")
      // out-of-range prefixes are uniformly null (a negative p would
      // otherwise mask everything to 0; p > 32 only nulled by accident
      // via pmod-by-zero) — registry invalid-input convention
      when(p.cast("long").between(0L, 32L),
        (ip - pmod(ip, block)).cast("long")).otherwise(lit(null).cast("long")) },
    "format_ipv4" -> f { case n :: Nil =>
      concat_ws(".", shiftright(n.cast("long"), 24) % 256,
        shiftright(n.cast("long"), 16) % 256,
        shiftright(n.cast("long"), 8) % 256, n.cast("long") % 256) },
    "ipv4_is_in_range" -> f { case ip :: range :: Nil => ipv4InRange(ip, range) },
    "ipv4_is_in_any_range" -> f { case ip :: ranges =>
      ranges.map(r => ipv4InRange(ip, r)).reduce(_ || _) },
    "format_ipv4_mask" -> f { case ipS :: m :: Nil =>
      // network address of ip under /m, rendered with the suffix
      val ip = parseIpv4(ipS)
      val hostBits = lit(32L) - m.cast("long")
      val block = pow(lit(2.0), hostBits.cast("double")).cast("long")
      val net = (ip - pmod(ip, block)).cast("long")
      concat_ws("/", concat_ws(".", shiftright(net, 24) % 256,
        shiftright(net, 16) % 256, shiftright(net, 8) % 256, net % 256),
        m.cast("long")) },
    "ipv4_netmask_suffix" -> f { case s :: Nil => netmaskSuffix(s) },
    "gzip_compress_to_base64_string" -> f { case c :: Nil => gzipCompressUdf(c.cast("string")) },
    "gzip_decompress_from_base64_string" -> f { case c :: Nil => gzipDecompressUdf(c.cast("string")) },
    "zlib_compress_to_base64_string" -> f { case c :: Nil => zlibCompressUdf(c.cast("string")) },
    "zlib_decompress_from_base64_string" -> f { case c :: Nil => zlibDecompressUdf(c.cast("string")) },
    // haversine sum over a GeoJSON LineString — HOF aggregate, codegen'd
    "geo_line_length" -> f { case ls :: Nil =>
      val coords = from_json(get_json_object(ls, "$.coordinates"),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType)))
      aggregate(sequence(lit(1), size(coords) - 1), lit(0.0d), (acc, i) =>
        acc + haversineMeters(
          element_at(element_at(coords, i), 1), element_at(element_at(coords, i), 2),
          element_at(element_at(coords, i + 1), 1), element_at(element_at(coords, i + 1), 2))) },
    // spherical polygon area (m²) of the outer ring via the standard
    // line-integral approximation: R²/2·|Σ (λᵢ₊₁−λᵢ)(2 + sin φᵢ + sin φᵢ₊₁)|
    "geo_polygon_area" -> f { case p :: Nil =>
      val coords = from_json(get_json_object(p, "$.coordinates"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
      val ring = element_at(coords, 1)
      val s = aggregate(sequence(lit(1), size(ring) - 1), lit(0.0d), (acc, i) => {
        val lon1 = radians(element_at(element_at(ring, i), 1))
        val lat1 = radians(element_at(element_at(ring, i), 2))
        val lon2 = radians(element_at(element_at(ring, i + 1), 1))
        val lat2 = radians(element_at(element_at(ring, i + 1), 2))
        acc + (lon2 - lon1) * (lit(2.0) + sin(lat1) + sin(lat2))
      })
      abs(s) * lit(6371000.0 * 6371000.0 / 2.0) },
    // even–odd ray casting over a GeoJSON Polygon's outer ring — pure
    // higher-order expressions (aggregate over the edge index), codegen'd
    "geo_point_in_polygon" -> f { case lon :: lat :: poly :: Nil =>
      val coords = from_json(get_json_object(poly, "$.coordinates"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
      val ring = element_at(coords, 1)
      val x = lon.cast("double"); val y = lat.cast("double")
      val crossings = aggregate(sequence(lit(1), size(ring) - 1), lit(0L),
        (acc, i) => {
          val x1 = element_at(element_at(ring, i), 1)
          val y1 = element_at(element_at(ring, i), 2)
          val x2 = element_at(element_at(ring, i + 1), 1)
          val y2 = element_at(element_at(ring, i + 1), 2)
          acc + when(((y1 > y) =!= (y2 > y)) &&
            x < x1 + (x2 - x1) * (y - y1) / (y2 - y1), 1L).otherwise(0L)
        })
      pmod(crossings, lit(2L)) === 1L },
    // S2 cell token for a point (quadratic projection + Hilbert curve,
    // the standard public S2 construction); level 0..30, default 11
    "geo_point_to_s2cell" -> f {
      case lon :: lat :: Nil =>
        s2CellUdf(lon.cast("double"), lat.cast("double"), lit(11))
      case lon :: lat :: l :: Nil =>
        s2CellUdf(lon.cast("double"), lat.cast("double"), l.cast("int")) },
    "geo_s2cell_to_central_point" -> f { case t :: Nil =>
      val pt = s2CenterUdf(t.cast("string"))
      struct(pt.getField("_1").as("longitude"), pt.getField("_2").as("latitude")) },
    "geo_point_to_geohash" -> f {
      case lon :: lat :: Nil => geohashUdf(lon.cast("double"), lat.cast("double"), lit(5))
      case lon :: lat :: p :: Nil => geohashUdf(lon.cast("double"), lat.cast("double"), p.cast("int")) },
    "geo_geohash_to_central_point" -> f { case h :: Nil =>
      // KQL returns a GeoJSON dynamic; expose coordinates as a struct
      val pt = geohashDecodeUdf(h)
      struct(pt.getField("_1").as("longitude"), pt.getField("_2").as("latitude")) },
    "parse_ipv6" -> f { case s :: Nil => parseIpv6Udf(s.cast("string")) },
    "parse_ipv6_mask" -> f { case s :: m :: Nil =>
      parseIpv6MaskUdf(s.cast("string"), m.cast("int")) },
    "ipv6_compare" -> f {
      case a :: b :: Nil => ipv6CompareUdf(a.cast("string"), b.cast("string"), lit(128))
      case a :: b :: p :: Nil => ipv6CompareUdf(a.cast("string"), b.cast("string"), p.cast("int")) },
    "ipv6_is_match" -> f { case ip :: rng :: Nil =>
      ipv6IsMatchUdf(ip.cast("string"), rng.cast("string")) },
    "ipv4_is_private" -> f { case s :: Nil =>
      val ip = parseIpv4(element_at(split(s, "/"), 1))
      shiftright(ip, 24) === 10L ||
        shiftright(ip, 20) === 0xAC1L ||
        shiftright(ip, 16) === 0xC0A8L },
    // compare under the joint netmask: min of both embedded suffixes and
    // the optional prefix argument (KQL ipv4_compare)
    "ipv4_compare" -> f {
      case a :: b :: Nil => ipv4Compare(a, b, lit(32))
      case a :: b :: p :: Nil => ipv4Compare(a, b, p) },
    "ipv4_is_match" -> f {
      case a :: b :: Nil => ipv4Compare(a, b, lit(32)) === 0L
      case a :: b :: p :: Nil => ipv4Compare(a, b, p) === 0L },
    "parse_url" -> f { case u :: Nil =>
      to_json(struct(parse_url(u, lit("PROTOCOL")).as("Scheme"),
        parse_url(u, lit("HOST")).as("Host"),
        parse_url(u, lit("PATH")).as("Path"),
        parse_url(u, lit("QUERY")).as("Query"))) },
    // URL canonicalization for crawl dedup (the exact-dedup front
    // door: the same page arrives as http://Site.com/a?utm_source=x&b=1
    // and https://site.com/a?b=1#frag) — documented rules: lowercase
    // scheme+authority (path/query case preserved), strip the
    // fragment, drop default :80/:443 ports, drop utm_*/fbclid/gclid
    // tracking params, sort surviving query params bytewise. Pure
    // regexp/array Column ops in codegen; non-URLs (no scheme://) pass
    // through with only fragment stripping so the op is total.
    "url_normalize" -> f { case u0 :: Nil => urlNormalize(u0.cast("string")) },
    // crawl-layer text extraction: drop script/style blocks wholesale,
    // strip comments + every remaining tag, decode the six standard
    // entities, collapse whitespace; total on any string (see htmlStrip)
    "html_strip" -> f { case h :: Nil => htmlStrip(h.cast("string")) },
    // crawl-layer politeness check: robots_allow(robots_txt, agent, path)
    "robots_allow" -> f { case b :: a :: p :: Nil =>
      robotsAllow(b.cast("string"), a.cast("string"), p.cast("string")) },
    // simplified UA parsing (the public token heuristics: Edge before
    // Chrome before Safari; OS from platform tokens) — pure when-chains
    // and regexp_extract, no UDF, no lookup tables
    "parse_user_agent" -> f { case ua :: Nil =>
      val u = ua.cast("string")
      val browser =
        when(u.contains("Edg/") || u.contains("Edge/"), lit("Edge"))
          .when(u.contains("OPR/") || u.contains("Opera"), lit("Opera"))
          .when(u.contains("Firefox/"), lit("Firefox"))
          .when(u.contains("Chrome/"), lit("Chrome"))
          .when(u.contains("Safari/") && u.contains("Version/"), lit("Safari"))
          .when(u.contains("MSIE") || u.contains("Trident/"), lit("Internet Explorer"))
          .otherwise(lit("Other"))
      val ver =
        when(browser === "Edge", regexp_extract(u, "Edge?/(\\d+)", 1))
          .when(browser === "Opera", regexp_extract(u, "(?:OPR|Version)/(\\d+)", 1))
          .when(browser === "Firefox", regexp_extract(u, "Firefox/(\\d+)", 1))
          .when(browser === "Chrome", regexp_extract(u, "Chrome/(\\d+)", 1))
          .when(browser === "Safari", regexp_extract(u, "Version/(\\d+)", 1))
          .when(browser === "Internet Explorer",
            coalesce(regexp_extract(u, "MSIE (\\d+)", 1), regexp_extract(u, "rv:(\\d+)", 1)))
          .otherwise(lit(""))
      val os =
        when(u.contains("Windows NT"), lit("Windows"))
          .when(u.contains("Android"), lit("Android"))
          .when(u.contains("iPhone") || u.contains("iPad"), lit("iOS"))
          .when(u.contains("Mac OS X"), lit("Mac OS X"))
          .when(u.contains("Linux"), lit("Linux"))
          .otherwise(lit("Other"))
      to_json(struct(
        struct(browser.as("Family"), ver.as("MajorVersion")).as("Browser"),
        struct(os.as("Family")).as("OperatingSystem"))) },
    // single-record CSV line → array (RFC 4180 quoting); tiny state
    // machine, hence a compact UDF
    "parse_csv" -> f { case s :: Nil => parseCsvUdf(s.cast("string")) },
    // XML → dynamic bag via the JDK DOM parser (attributes under
    // "@name", text under "#text", repeated children become arrays)
    "parse_xml" -> f { case s :: Nil => parseXmlUdf(s.cast("string")) },
    // raw punycode (RFC 3492) via the JDK's IDN codec; the pure-ASCII
    // degenerate form (trailing '-') is handled explicitly
    "punycode_to_string" -> f { case s :: Nil => punyDecodeUdf(s.cast("string")) },
    "punycode_from_string" -> f { case s :: Nil => punyEncodeUdf(s.cast("string")) },
    // whole-domain IDN forms (per-label xn-- handling is the JDK's)
    "punycode_domain_from_string" -> f { case s :: Nil =>
      punyDomainEncodeUdf(s.cast("string")) },
    "punycode_domain_to_string" -> f { case s :: Nil =>
      punyDomainDecodeUdf(s.cast("string")) },
    // replace_strings is planner-side (dynamic-literal arrays arrive as
    // JSON strings and need type-aware coercion)
    "parse_command_line" -> f {
      // only the windows dialect exists (matching KQL); any other
      // parser-type value nulls rather than silently applying windows
      // rules to e.g. a posix line
      case c :: ty :: Nil =>
        when(!(ty <=> lit("windows")), lit(null).cast("array<string>"))
          .otherwise(cmdLineUdf(c.cast("string")))
      case c :: Nil => cmdLineUdf(c.cast("string")) },
    "geo_geohash_neighbors" -> f { case h :: Nil =>
      geohashNeighborsUdf(h.cast("string")) },
    // file-path decomposition (KQL parse_path): scheme-less paths,
    // both separators; rightmost '.' after the last separator = extension
    "parse_path" -> f { case p0 :: Nil =>
      val p = regexp_replace(p0, lit("\\\\"), lit("/"))
      val dir = when(p.contains("/"),
        regexp_replace(p, lit("/[^/]*$"), lit(""))).otherwise(lit(""))
      val fname = element_at(split(p, "/"), -1)
      val ext = when(fname.rlike("\\.[^.]+$"),
        regexp_extract(fname, "\\.([^.]+)$", 1)).otherwise(lit(""))
      to_json(struct(
        regexp_extract(p, "^([A-Za-z]:)", 1).as("RootPath"),
        dir.as("DirectoryPath"),
        element_at(split(dir, "/"), -1).as("DirectoryName"),
        fname.as("Filename"), ext.as("Extension"))) },
    // query string → dynamic bag (KQL parse_urlquery shape: the params
    // nest under "Query Parameters"); accepts a bare query or a full URL
    "parse_urlquery" -> f { case q :: Nil =>
      val qs = regexp_replace(q, "^[^?]*\\?", "")
      val entries = transform(
        filter(split(qs, "&"), kv => kv =!= lit("")),
        kv => struct(
          url_decode(element_at(split(kv, "=", 2), 1)).as("k"),
          url_decode(coalesce(element_at(split(kv, "=", 2), 2), lit("")))
            .as("v")))
      // a repeated parameter (k=1&k=2) would throw DUPLICATE_MAP_KEY under
      // the default mapKeyDedupPolicy — fold with last-occurrence-wins
      // instead (r2 ADVICE); query strings are tiny, O(n²) is irrelevant
      val bag = aggregate(entries, map().cast("map<string,string>"),
        (m, e) => map_concat(
          map_filter(m, (k, _) => k =!= e.getField("k")),
          map(e.getField("k"), e.getField("v"))))
      to_json(struct(bag.as("Query Parameters"))) },
    // ------------------------------------------------- special math (§2.8)
    // Lanczos(g=7,n=9) log-gamma as pure Column arithmetic — stays in
    // whole-stage codegen; reflection handles x ≤ 0.5
    "loggamma" -> f { case x0 :: Nil =>
      val x = x0.cast("double")
      when(x > 0.5, lanczosLgamma(x))
        .otherwise(lit(math.log(math.Pi)) - log(abs(sin(lit(math.Pi) * x)))
          - lanczosLgamma(lit(1.0) - x)) },
    "gamma" -> f { case x0 :: Nil =>
      val x = x0.cast("double")
      when(x > 0.5, exp(lanczosLgamma(x)))
        .otherwise(lit(math.Pi) /
          (sin(lit(math.Pi) * x) * exp(lanczosLgamma(lit(1.0) - x)))) },
    "beta_pdf" -> f { case x0 :: a0 :: b0 :: Nil =>
      val x = x0.cast("double"); val a = a0.cast("double"); val b = b0.cast("double")
      val lbeta = lanczosLgamma(a) + lanczosLgamma(b) - lanczosLgamma(a + b)
      when(x <= 0d || x >= 1d, lit(0.0))
        .otherwise(exp((a - 1d) * log(x) + (b - 1d) * log(lit(1.0) - x) - lbeta)) },
    // regularized incomplete beta (continued fraction) — iterative, so a
    // compact UDF like series_decompose (COVERAGE §2.11 trade)
    "beta_cdf" -> f { case x :: a :: b :: Nil =>
      betaCdfUdf(x.cast("double"), a.cast("double"), b.cast("double")) },
    "beta_inv" -> f { case p :: a :: b :: Nil =>
      betaInvUdf(p.cast("double"), a.cast("double"), b.cast("double")) },
    // --------------------------------------------- IPv6 ranges / text IPs
    "ipv6_is_in_range" -> f { case ip :: rng :: Nil =>
      ipv6IsMatchUdf(ip.cast("string"), rng.cast("string")) },
    "ipv6_is_in_any_range" -> f { case ip :: rngs =>
      rngs.map(r => ipv6IsMatchUdf(ip.cast("string"), r.cast("string")))
        .reduce(_ || _) },
    // term-boundary containment of specific IPv4s / an IPv4 prefix in
    // free text (KQL has_any_ipv4 / has_ipv4_prefix); IP args are
    // digit-dot strings so escaping dots is a full regex quote
    "has_any_ipv4" -> f { case t :: ips =>
      ips.map { ip =>
        val quoted = regexp_replace(ip.cast("string"), lit("\\."), lit("\\\\."))
        call_function("regexp_like", t,
          concat(lit("(^|[^0-9.])"), quoted, lit("([^0-9.]|$)")))
      }.reduce(_ || _) },
    "has_ipv4_prefix" -> f { case t :: pfx :: Nil =>
      val quoted = regexp_replace(pfx.cast("string"), lit("\\."), lit("\\\\."))
      call_function("regexp_like", t,
        concat(lit("(^|[^0-9.])"), quoted, lit("[0-9.]*([^0-9.]|$)"))) },
    // ------------------------------------------- time-series additions
    // per-phase means of the series, tiled to its length (the seasonal
    // component of series_decompose on its own)
    "series_seasonal" -> f {
      case a :: Nil => seriesSeasonalUdf(a.cast("array<double>"), lit(-1))
      case a :: p :: Nil => seriesSeasonalUdf(a.cast("array<double>"), p.cast("int")) },
    // (series_iir lives in the main block above as a pure aggregate
    // fold — a duplicate UDF entry here used to SHADOW it, since the
    // last duplicate key wins in a Map literal)
    // train simplified-STL on all but the last `points` elements, emit
    // trend(line-fit)+seasonal baseline across the whole horizon
    "series_decompose_forecast" -> f { case a :: pts :: p :: Nil =>
      seriesForecastUdf(a.cast("array<double>"), pts.cast("int"), p.cast("int")) },
    // positive-drift CUSUM change detection vs a KNOWN target level
    // (Page 1954): S_i = max(0, S_{i-1} + x_i − target − slack);
    // returns struct(max_stat, idx) — the peak statistic and its
    // 1-based position (0 when the series never drifts up). The target
    // is an explicit parameter, as in classic CUSUM — deriving it from
    // the series inside the fold would re-evaluate the mean subtree per
    // element (the recursive-Column trap, see audioMeta).
    "series_cusum_detect" -> f { case a :: t :: k :: Nil =>
      seriesCusumDetect(a, t, k) },
  )

  /** robots.txt permission check (REP, the documented simplification):
    * comment/blank lines dropped; groups = runs headed by one or more
    * consecutive User-agent lines; the group whose UA equals the agent
    * (case-insensitive) wins, else the `*` group, else everything is
    * allowed; within the chosen group the LONGEST Allow/Disallow value
    * that prefixes the path decides, Allow winning length ties (the
    * published Google rule); path matching is CASE-SENSITIVE per REP
    * (only the UA token folds); empty Disallow values are no-ops; no
    * matching rule ⇒ allowed. Two aggregate FOLDS over the line array
    * (group assignment needs run state; best-rule needs a running max)
    * — runtime iteration, constant plan size. */
  private def robotsAllow(body: Column, agent: Column,
                          path: Column): Column = {
    val lines = filter(
      transform(split(coalesce(body, lit("")), "\n"), l => trim(l)),
      l => length(l) >= 1 && !l.startsWith("#"))
    // everything after the FIRST colon (path values may contain colons)
    def valOf(l: Column): Column =
      trim(l.substr(instr(l, ":") + 1, length(l)))
    // fold 1: tag each line (kind, value, gid) — consecutive UA lines
    // share a group; state = (gid, prevWasUa, tagged lines)
    val tagged = aggregate(lines,
      struct(lit(0L).as("gid"), lit(false).as("pua"),
        array().cast("array<struct<kind:string,value:string,gid:bigint>>")
          .as("out")),
      (acc, l) => {
        val low = lower(l)
        val kind = when(low.startsWith("user-agent:"), lit("ua"))
          .when(low.startsWith("allow:"), lit("allow"))
          .when(low.startsWith("disallow:"), lit("disallow"))
          .otherwise(lit("other"))
        val isUa = kind === "ua"
        val gid = when(isUa && !acc.getField("pua"),
          acc.getField("gid") + 1L).otherwise(acc.getField("gid"))
        // rule values stay VERBATIM — REP path matching is
        // case-sensitive; only the UA token compares folded (uaGid)
        struct(gid.as("gid"), isUa.as("pua"),
          concat(acc.getField("out"), array(struct(kind.as("kind"),
            valOf(l).as("value"), gid.as("gid")))).as("out"))
      }).getField("out")
    val agentLc = lower(agent)
    def uaGid(matchVal: Column): Column = {
      val hits = filter(tagged, e =>
        e.getField("kind") === "ua" &&
          lower(e.getField("value")) === matchVal)
      when(size(hits) >= 1, element_at(hits, 1).getField("gid"))
    }
    val gid = coalesce(uaGid(agentLc), uaGid(lit("*")))
    val rules = filter(tagged, e =>
      e.getField("gid") === gid &&
        (e.getField("kind") === "allow" || e.getField("kind") === "disallow") &&
        length(e.getField("value")) >= 1 &&
        path.startsWith(e.getField("value")))
    // fold 2: longest rule wins, Allow beats Disallow on ties
    val best = aggregate(rules,
      struct(lit(-1).as("len"), lit(true).as("allow")),
      (acc, e) => {
        val l = length(e.getField("value"))
        val isAllow = e.getField("kind") === "allow"
        when(l > acc.getField("len") ||
            (l === acc.getField("len") && isAllow),
          struct(l.as("len"), isAllow.as("allow"))).otherwise(acc)
      })
    when(gid.isNull, lit(true)).otherwise(best.getField("allow"))
  }

  /** Crawl-layer HTML → text extraction (the step between media-type
    * routing and every text-quality op): remove script/style elements
    * with their CONTENT (code is not prose), strip comments and all
    * remaining tags to a space (block/inline distinction collapses
    * under the final whitespace fold anyway), decode the six standard
    * entities with `&amp;` LAST (single-pass decoder semantics:
    * "&amp;lt;" yields the literal "&lt;", never "<"), collapse
    * whitespace, trim. Pure regexp/replace chain in whole-stage
    * codegen; non-HTML passes through with only whitespace collapsing,
    * so the function is total. */
  private def htmlStrip(h0: Column): Column = {
    val h = coalesce(h0, lit(""))
    val noScript =
      regexp_replace(h, "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "(?s)<[^>]*>", " ")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** See the `url_normalize` registry note for the rule set. */
  private def urlNormalize(u0: Column): Column = {
    val noFrag = regexp_replace(u0, "#.*$", "")
    val auth0 = regexp_extract(noFrag,
      "^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?]*)", 1)
    val isUrl = length(auth0) > 0
    val auth = regexp_replace(lower(auth0), ":(80|443)$", "")
    val rest = noFrag.substr(length(auth0) + 1, length(noFrag))
    val qPos = instr(rest, "?")
    val path = when(qPos === 0, rest).otherwise(rest.substr(lit(1), qPos - 1))
    val query = when(qPos === 0, lit("")).otherwise(
      rest.substr(qPos + 1, length(rest)))
    val kept = array_sort(filter(split(query, "&"), p =>
      length(p) > 0 && !p.rlike("^(utm_[^=]*|fbclid|gclid)(=.*)?$")))
    val qs = array_join(kept, "&")
    when(isUrl, concat(auth, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
      .otherwise(noFrag)
  }

  /** One O(n) fold carrying (s, smax, imax, i); see the registry note. */
  private def seriesCusumDetect(a: Column, target: Column,
                                slack: Column): Column = {
    val init = struct(lit(0.0d).as("s"), lit(0.0d).as("smax"),
      lit(0L).as("imax"), lit(0L).as("i"))
    val res = aggregate(a, init, (st, x0) => {
      val s2 = greatest(lit(0.0d), st.getField("s") +
        (x0.cast("double") - target.cast("double") - slack.cast("double")))
      val i2 = st.getField("i") + 1
      val better = s2 > st.getField("smax")
      struct(s2.as("s"),
        when(better, s2).otherwise(st.getField("smax")).as("smax"),
        when(better, i2).otherwise(st.getField("imax")).as("imax"),
        i2.as("i"))
    })
    struct(res.getField("smax").as("max_stat"), res.getField("imax").as("idx"))
  }

  /** Pairwise dot product over two aligned numeric series. */
  private def seriesDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  /** Pearson correlation from closed-form sums — one pass per array. */
  private def seriesPearson(a: Column, b: Column): Column = {
    val n = size(a).cast("double")
    val sum = (v: Column) => aggregate(v, lit(0.0d), (acc, x) => acc + x.cast("double"))
    val sa = sum(a); val sb = sum(b)
    val saa = aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double"))
    val sbb = aggregate(b, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double"))
    val sab = seriesDot(a, b)
    (n * sab - sa * sb) /
      (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))
  }

  /** Forward-fill nulls: running `coalesce(x, last-seen)` accumulator;
    * leading nulls stay null (KQL series_fill_forward). */
  private def fillForward(a: Column): Column =
    aggregate(
      a,
      struct(array().cast("array<double>").as("out"),
        lit(null).cast("double").as("last")),
      (acc, x) => {
        val v = coalesce(x.cast("double"), acc.getField("last"))
        struct(concat(acc.getField("out"), array(v)).as("out"), v.as("last"))
      },
      acc => acc.getField("out"))

  /** Linear interpolation of null gaps (KQL series_fill_linear): interior
    * nulls interpolate between the surrounding non-nulls; leading/trailing
    * nulls take the nearest non-null value. Built from forward/backward
    * passes that carry (value, index) so slope = (next-prev)/(nextIdx-prevIdx).
    */
  private def fillLinear(a: Column): Column = {
    // forward pass over (value, 0-based index) pairs → last non-null seen
    def carry(arr: Column): Column = aggregate(
      arr,
      struct(array().cast("array<struct<v:double,i:double>>").as("out"),
        lit(null).cast("double").as("v"), lit(null).cast("double").as("i"),
        lit(0.0d).as("pos")),
      (acc, x) => {
        val hit = x.isNotNull
        val v = when(hit, x.cast("double")).otherwise(acc.getField("v"))
        val i = when(hit, acc.getField("pos")).otherwise(acc.getField("i"))
        struct(
          concat(acc.getField("out"), array(struct(v.as("v"), i.as("i")))).as("out"),
          v.as("v"), i.as("i"), (acc.getField("pos") + 1).as("pos"))
      },
      acc => acc.getField("out"))
    val fwd = carry(a)
    val bwd = reverse(carry(reverse(a)))
    val n = size(a)
    transform(a, (x, idx) => {
      val p = element_at(fwd, idx + 1)
      // bwd was built on the reversed array: its stored index counts from
      // the end, so un-mirror it to a 0-based position in the original
      val q0 = element_at(bwd, idx + 1)
      val pv = p.getField("v"); val pi = p.getField("i")
      val qv = q0.getField("v"); val qi = n.cast("double") - 1 - q0.getField("i")
      when(x.isNotNull, x.cast("double"))
        .when(pv.isNull, qv)          // leading gap → next value
        .when(qv.isNull, pv)          // trailing gap → prev value
        .otherwise(pv + (qv - pv) * (idx.cast("double") - pi) / (qi - pi))
    })
  }

  /** Merge two JSON property bags, first-bag-wins on duplicate keys
    * (KQL bag_merge; also the fold step of the make_bag aggregate). */
  def mergeBags(a: Column, b: Column): Column = {
    val strMap = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType)
    val m1 = from_json(a, strMap)
    val m2 = from_json(b, strMap)
    to_json(map_concat(m1,
      map_filter(m2, (k, _) => !array_contains(map_keys(m1), k))))
  }

  /** Human-readable byte size: value scaled to the largest unit ≥ 1
    * (KQL format_bytes). precision 0 renders an integer. */
  private def formatBytes(v: Column, p: Column): Column = {
    val units = array(Seq("Bytes", "KB", "MB", "GB", "TB", "PB", "EB").map(lit): _*)
    val i = when(v > 0, floor(log(1024.0, v))).otherwise(lit(0)).cast("int")
    val scaled = v.cast("double") / pow(lit(1024.0), i.cast("double"))
    val f = pow(lit(10.0), p.cast("double"))
    val rounded = floor(scaled * f + 0.5) / f
    val numStr = when(p <= 0, rounded.cast("long").cast("string"))
      .otherwise(rounded.cast("string"))
    concat(numStr, lit(" "), element_at(units, i + 1))
  }

  /** CIDR suffix of 'a.b.c.d[/prefix]'; 32 when absent (KQL
    * ipv4_netmask_suffix). */
  private def netmaskSuffix(s: Column): Column = {
    val parts = split(s, "/")
    when(size(parts) > 1, element_at(parts, 2).cast("long")).otherwise(lit(32L))
  }

  /** Signed comparison of two IPs under min(suffixA, suffixB, prefix). */
  private def ipv4Compare(a: Column, b: Column, prefix: Column): Column = {
    val pfx = least(netmaskSuffix(a), netmaskSuffix(b), prefix.cast("long"))
    val mask = lit(4294967296L) -
      pow(lit(2.0), (lit(32L) - pfx).cast("double")).cast("long")
    val ia = parseIpv4(element_at(split(a, "/"), 1)).bitwiseAND(mask)
    val ib = parseIpv4(element_at(split(b, "/"), 1)).bitwiseAND(mask)
    when(ia < ib, -1L).when(ia > ib, 1L).otherwise(0L)
  }

  /** Dotted-quad → long (KQL parse_ipv4). */
  private def parseIpv4(s: Column): Column = {
    val p = split(s, "\\.")
    element_at(p, 1).cast("long") * 16777216L + element_at(p, 2).cast("long") * 65536L +
      element_at(p, 3).cast("long") * 256L + element_at(p, 4).cast("long")
  }

  /** ip within 'a.b.c.d/prefix' (or exact ip when no prefix). */
  private def ipv4InRange(ip: Column, range: Column): Column = {
    val parts = split(range, "/")
    val base = parseIpv4(element_at(parts, 1))
    val prefix = when(size(parts) > 1, element_at(parts, 2).cast("int")).otherwise(lit(32))
    // mask = 2^32 - 2^(32-prefix); pow is exact for integer exponents ≤ 32
    val mask = lit(4294967296L) -
      pow(lit(2.0), (lit(32) - prefix).cast("double")).cast("long")
    parseIpv4(ip).bitwiseAND(mask) === base.bitwiseAND(mask)
  }

  // ------------------------------------------ compression / geo encodings
  //
  // Compact JDK-backed UDFs (java.util.zip / bit math — no external
  // libs). Deliberate UDFs like the IVF/decompose cases: there is no
  // built-in expression for deflate or geohash, and the per-row work is
  // a tight primitive loop.

  // GUID ⇄ base64: Kusto follows .NET Guid.ToByteArray's MIXED-endian
  // layout — the first three groups are little-endian, the last two
  // big-endian (docs example: ae3133f2-6e22-49ae-b06a-16e6a9b212eb ⇄
  // "8jMxriJurkmwahbmqbIS6w=="). Invalid input → null (the registry's
  // invalid-input convention).
  private def guidToNetBytes(g: String): Array[Byte] = {
    val u = java.util.UUID.fromString(g)
    val hi = u.getMostSignificantBits; val lo = u.getLeastSignificantBits
    val b = new Array[Byte](16)
    // groups 1-3 from the high long, little-endian within each group
    var i = 0
    while (i < 4) { b(i) = (hi >>> (32 + i * 8)).toByte; i += 1 }
    b(4) = (hi >>> 16).toByte; b(5) = (hi >>> 24).toByte
    b(6) = hi.toByte; b(7) = (hi >>> 8).toByte
    i = 0
    while (i < 8) { b(8 + i) = (lo >>> (56 - i * 8)).toByte; i += 1 }
    b
  }

  private val base64FromGuidUdf = udf { g: String =>
    if (g == null) null
    else try java.util.Base64.getEncoder.encodeToString(guidToNetBytes(g))
    catch { case _: Exception => null }
  }

  private val base64ToGuidUdf = udf { s: String =>
    if (s == null) null
    else try {
      val b = java.util.Base64.getDecoder.decode(s)
      require(b.length == 16)
      // invert the mixed-endian layout
      def u8(x: Byte): Long = x.toLong & 0xffL
      val hi = (u8(b(3)) << 56) | (u8(b(2)) << 48) | (u8(b(1)) << 40) |
        (u8(b(0)) << 32) | (u8(b(5)) << 24) | (u8(b(4)) << 16) |
        (u8(b(7)) << 8) | u8(b(6))
      val lo = (0 until 8).map(i => u8(b(8 + i)) << (56 - i * 8)).reduce(_ | _)
      new java.util.UUID(hi, lo).toString
    } catch { case _: Exception => null }
  }

  private val gzipCompressUdf = udf { s: String =>
    if (s == null) null
    else {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s.getBytes("UTF-8")); gz.close()
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
  }

  private val gzipDecompressUdf = udf { s: String =>
    if (s == null) null
    else try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(s)))
      new String(in.readAllBytes(), "UTF-8")
    } catch { case _: Exception => "" } // KQL: invalid input → empty
  }

  private val zlibCompressUdf = udf { s: String =>
    if (s == null) null
    else {
      val d = new java.util.zip.Deflater()
      d.setInput(s.getBytes("UTF-8")); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      java.util.Base64.getEncoder.encodeToString(out.toByteArray)
    }
  }

  private val zlibDecompressUdf = udf { s: String =>
    if (s == null) null
    else try {
      val inf = new java.util.zip.Inflater()
      inf.setInput(java.util.Base64.getDecoder.decode(s))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) throw new RuntimeException("truncated")
        out.write(buf, 0, n)
      }
      inf.end()
      new String(out.toByteArray, "UTF-8")
    } catch { case _: Exception => "" }
  }

  private val geohashChars = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** Shared geohash encode kernel (interleaved lon/lat bisection) —
    * the single implementation behind geohashUdf and the neighbors
    * walk. */
  private def geohashEncode(lon0: Double, lat: Double, p: Int): String = {
    // wrap longitude so neighbor offsets across the antimeridian re-enter
    val lon = if (lon0 > 180) lon0 - 360 else if (lon0 < -180) lon0 + 360 else lon0
    var (lonLo, lonHi, latLo, latHi) = (-180.0, 180.0, -90.0, 90.0)
    val sb = new StringBuilder
    var isLon = true
    var bits = 0; var ch = 0
    while (sb.length < p) {
      if (isLon) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid } else { ch <<= 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid } else { ch <<= 1; latHi = mid }
      }
      isLon = !isLon
      bits += 1
      if (bits == 5) { sb += geohashChars(ch); bits = 0; ch = 0 }
    }
    sb.toString
  }

  /** Shared geohash decode kernel: the cell's (lonLo, lonHi, latLo,
    * latHi) bounds. */
  private def geohashBounds(h: String): (Double, Double, Double, Double) = {
    var (lonLo, lonHi, latLo, latHi) = (-180.0, 180.0, -90.0, 90.0)
    var isLon = true
    h.toLowerCase.foreach { c =>
      val ci = geohashChars.indexOf(c)
      var b = 4
      while (b >= 0) {
        val bit = (ci >> b) & 1
        if (isLon) {
          val mid = (lonLo + lonHi) / 2
          if (bit == 1) lonLo = mid else lonHi = mid
        } else {
          val mid = (latLo + latHi) / 2
          if (bit == 1) latLo = mid else latHi = mid
        }
        isLon = !isLon
        b -= 1
      }
    }
    (lonLo, lonHi, latLo, latHi)
  }

  private val geohashUdf = udf { (lon: Double, lat: Double, precision: Int) =>
    geohashEncode(lon, lat, math.max(1, math.min(precision, 12)))
  }

  /** Center point of a geohash cell → struct(longitude, latitude). */
  private val geohashDecodeUdf = udf { h: String =>
    val (lonLo, lonHi, latLo, latHi) = geohashBounds(h)
    ((lonLo + lonHi) / 2, (latLo + latHi) / 2)
  }

  // ------------------------------------------------------------- IPv6
  //
  // Canonical form: 8 lowercase 4-nibble groups joined by ':'. Compact
  // JIT'd UDFs: the pure-Column formulation nested the canonicalizer
  // into every comparison and cost ~12 s of Catalyst analysis/codegen
  // for one constant-only query (the same giant-expression-tree trap as
  // the IVF cell assignment; measured, then replaced).

  private def canonIpv6Str(s0: String): String = {
    if (s0 == null) return null
    var t = s0.trim.toLowerCase
    if (!t.contains(":") && t.contains(".")) t = "::ffff:" + t
    "(\\d+\\.\\d+\\.\\d+\\.\\d+)$".r.findFirstIn(t).foreach { q =>
      val p = q.split("\\.").map(_.toLong)
      val n = p(0) * 16777216L + p(1) * 65536L + p(2) * 256L + p(3)
      t = t.dropRight(q.length) + f"${n >> 16}%04x:${n & 0xffff}%04x"
    }
    val groups =
      if (t.contains("::")) {
        val parts = t.split("::", -1)
        val l = if (parts(0).isEmpty) Array.empty[String] else parts(0).split(":")
        val r = if (parts.length > 1 && parts(1).nonEmpty) parts(1).split(":")
                else Array.empty[String]
        l ++ Array.fill(8 - l.length - r.length)("0") ++ r
      } else t.split(":")
    groups.map(g => ("0000" + g).takeRight(4)).mkString(":")
  }

  /** Signed comparison of the first `prefix` bits (canonical fixed-width
    * lowercase hex ⇒ lexicographic = numeric). */
  private def ipv6CmpStr(a: String, b: String, prefix: Int): Long = {
    val fa = canonIpv6Str(a.split("/")(0)).replace(":", "")
    val fb = canonIpv6Str(b.split("/")(0)).replace(":", "")
    val q = prefix / 4; val r = prefix % 4
    val pa = fa.take(q); val pb = fb.take(q)
    if (pa < pb) -1L else if (pa > pb) 1L
    else if (r == 0) 0L
    else {
      val na = Integer.parseInt(fa.substring(q, q + 1), 16) >> (4 - r)
      val nb = Integer.parseInt(fb.substring(q, q + 1), 16) >> (4 - r)
      if (na < nb) -1L else if (na > nb) 1L else 0L
    }
  }

  private val parseIpv6Udf = udf { s: String => canonIpv6Str(s) }
  private val ipv6CompareUdf = udf { (a: String, b: String, p: Int) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Long]
    else java.lang.Long.valueOf(ipv6CmpStr(a, b, p))
  }
  private val ipv6IsMatchUdf = udf { (ip: String, range: String) =>
    if (ip == null || range == null) null.asInstanceOf[java.lang.Boolean]
    else {
      val parts = range.split("/")
      val raw = if (parts.length > 1) parts(1).toInt else 128
      // a v4-form range's prefix counts from bit 96 of the mapped address
      val pfx = if (!parts(0).contains(":") && raw <= 32) raw + 96 else raw
      java.lang.Boolean.valueOf(ipv6CmpStr(ip, parts(0), pfx) == 0L)
    }
  }
  private val parseIpv6MaskUdf = udf { (s: String, m: Int) =>
    if (s == null) null
    else {
      val full = canonIpv6Str(s).replace(":", "")
      val q = m / 4; val r = m % 4
      val kept =
        if (r == 0) full.take(q)
        else full.take(q) + Integer.toHexString(
          (Integer.parseInt(full.substring(q, q + 1), 16) >> (4 - r)) << (4 - r))
      kept.padTo(32, '0').grouped(4).mkString(":")
    }
  }

  /** Least-squares line fit over a numeric series (x = 0..n-1), from the
    * closed-form sums — one pass, no explode. Returns
    * struct(slope, interception, rsquare). */
  /** Tukey-fence outlier scores (k=1.5) — shared by series_outliers and
    * series_decompose_anomalies. */
  private def seriesOutliers(a: Column): Column = {
    val sorted = array_sort(a)
    val n = size(a)
    val q1 = element_at(sorted, greatest(ceil(n * 0.25).cast("int"), lit(1)))
    val q3 = element_at(sorted, greatest(ceil(n * 0.75).cast("int"), lit(1)))
    val iqr = (q3 - q1).cast("double")
    val lo = q1 - iqr * 1.5
    val hi = q3 + iqr * 1.5
    transform(a, x => when(iqr === 0d, lit(0.0))
      .when(x > hi, (x - hi) / iqr)
      .when(x < lo, (x - lo) / iqr)
      .otherwise(lit(0.0)))
  }

  /** series_decompose output shape (struct of aligned arrays). */
  case class SeriesDecomp(baseline: Seq[Double], seasonal: Seq[Double],
                          trend: Seq[Double], residual: Seq[Double])

  /** Simplified STL with a known period: trend[i] = mean of the centered
    * period-wide window, seasonal[phase] = mean of detrended values at
    * that phase, baseline = trend + seasonal, residual = series −
    * baseline.
    *
    * One compact Scala UDF, not higher-order expressions: the expression
    * formulation nests transform/aggregate five levels deep with the
    * trend subtree duplicated into every component — measured ~1.9 s of
    * pure plan/codegen cost per query even on a constant input. The
    * closure is JIT'd primitive loops, O(n·period⁻¹·n) per row, and the
    * pass stays embarrassingly parallel (same trade as the IVF cell
    * assignment, COVERAGE.md §2.11). */
  private val seriesDecomposeUdf =
    udf { (v: Seq[Double], p0: Int) =>
      val n = v.length
      // p0 <= 0 → autodetect: best normalized-autocorrelation lag
      // (the series_periods_detect heuristic); 1 when nothing repeats
      val p = if (p0 > 0) p0 else {
        val mean = if (n == 0) 0.0 else v.sum / n
        val c0 = v.map(x => (x - mean) * (x - mean)).sum
        var best = 1; var bestR = 0.0
        var lag = 2
        while (lag <= n / 2) {
          var s = 0.0; var i = lag
          while (i < n) { s += (v(i) - mean) * (v(i - lag) - mean); i += 1 }
          val r = if (c0 == 0) 0.0 else s / c0
          if (r > bestR) { bestR = r; best = lag }
          lag += 1
        }
        best
      }
      val h = p / 2
      val trend = Array.tabulate(n) { i =>
        val lo = math.max(i - h, 0); val hi = math.min(i + h, n - 1)
        var s = 0.0; var j = lo
        while (j <= hi) { s += v(j); j += 1 }
        s / (hi - lo + 1)
      }
      val detr = Array.tabulate(n)(i => v(i) - trend(i))
      val seasonal = Array.tabulate(n) { i =>
        var s = 0.0; var c = 0; var j = i % p
        while (j < n) { s += detr(j); c += 1; j += p }
        s / c
      }
      val baseline = Array.tabulate(n)(i => trend(i) + seasonal(i))
      val residual = Array.tabulate(n)(i => v(i) - baseline(i))
      SeriesDecomp(baseline.toSeq, seasonal.toSeq, trend.toSeq, residual.toSeq)
    }

  private def seriesDecompose(a: Column, period: Column): Column =
    seriesDecomposeUdf(a.cast("array<double>"), period.cast("int"))

  /** series_fit_2lines output shape. */
  case class Fit2Lines(rsquare: Double, split_idx: Long,
                       left_slope: Double, left_interception: Double,
                       right_slope: Double, right_interception: Double)

  /** Segmented (two-line) least-squares fit: choose the split minimizing
    * combined SSE, each side fit in closed form from prefix sums —
    * O(n) per row after the O(n) prefix pass. Same compact-UDF trade as
    * series_decompose (layered HOF expressions cost seconds of
    * plan/codegen). x is the 0-based element index, KQL-style. */
  private val seriesFit2Udf = udf { v0: Seq[Double] =>
    val n = v0.length
    if (n < 4) Fit2Lines(0.0, 0L, 0.0, if (n > 0) v0.head else 0.0, 0.0, 0.0)
    else {
      val v = v0.toArray
      // prefix sums of 1, x, x², y, xy, y²
      val sx = new Array[Double](n + 1); val sxx = new Array[Double](n + 1)
      val sy = new Array[Double](n + 1); val sxy = new Array[Double](n + 1)
      val syy = new Array[Double](n + 1)
      var i = 0
      while (i < n) {
        val x = i.toDouble; val y = v(i)
        sx(i + 1) = sx(i) + x; sxx(i + 1) = sxx(i) + x * x
        sy(i + 1) = sy(i) + y; sxy(i + 1) = sxy(i) + x * y
        syy(i + 1) = syy(i) + y * y
        i += 1
      }
      // least-squares over [l, r): returns (slope, icpt, sse)
      def seg(l: Int, r: Int): (Double, Double, Double) = {
        val m = (r - l).toDouble
        val dx = sx(r) - sx(l); val dxx = sxx(r) - sxx(l)
        val dy = sy(r) - sy(l); val dxy = sxy(r) - sxy(l)
        val dyy = syy(r) - syy(l)
        val den = m * dxx - dx * dx
        if (den == 0) (0.0, dy / m, 0.0)
        else {
          val sl = (m * dxy - dx * dy) / den
          val ic = (dy - sl * dx) / m
          val sse = dyy - 2 * sl * dxy - 2 * ic * dy +
            sl * sl * dxx + 2 * sl * ic * dx + ic * ic * m
          (sl, ic, math.max(sse, 0.0))
        }
      }
      var best = Double.MaxValue; var bi = 2
      var bl = (0.0, 0.0, 0.0); var br = (0.0, 0.0, 0.0)
      var k = 2
      while (k <= n - 2) {
        val l = seg(0, k); val r = seg(k, n)
        if (l._3 + r._3 < best) { best = l._3 + r._3; bi = k; bl = l; br = r }
        k += 1
      }
      val mean = sy(n) / n
      val tss = syy(n) - n * mean * mean
      val rsq = if (tss == 0) 1.0 else math.max(0.0, 1.0 - best / tss)
      Fit2Lines(rsq, bi.toLong, bl._1, bl._2, br._1, br._2)
    }
  }

  /** series_periods_detect output shape. */
  case class PeriodsDetect(periods: Seq[Double], scores: Seq[Double])

  /** Period detection via the normalized autocorrelation function: score
    * a lag L as ACF(L) = Σ c[i]·c[i+L] / Σ c[i]² over the mean-centered
    * series, keep the top-k LOCAL MAXIMA in [minPeriod, maxPeriod]
    * (a local-max filter, as in the classic periodogram+ACF hybrid of
    * autoperiod-style detectors — a plain top-k would return L and all
    * its multiples). Scores round to 4 decimals for cross-run stability.
    * Same compact-UDF trade as series_decompose: per-row O(n·lags)
    * primitive loops, embarrassingly parallel. */
  private val seriesPeriodsUdf =
    udf { (v: Seq[Double], minP0: Int, maxP0: Int, k: Int) =>
      val n = v.length
      val out =
        if (n < 4) PeriodsDetect(Nil, Nil)
        else {
          val mean = v.sum / n
          val c = Array.tabulate(n)(i => v(i) - mean)
          var denom = 0.0
          var i = 0
          while (i < n) { denom += c(i) * c(i); i += 1 }
          val lo = math.max(2, minP0)
          val hi = math.min(if (maxP0 > 0) maxP0 else n / 2, n / 2)
          def acf(lag: Int): Double = {
            if (denom == 0) 0.0
            else {
              var s = 0.0; var j = 0
              while (j + lag < n) { s += c(j) * c(j + lag); j += 1 }
              s / denom
            }
          }
          val scoresByLag = (lo to hi).map(l => l -> acf(l))
          val localMax = scoresByLag.zipWithIndex.filter { case ((_, s), ix) =>
            val prev = if (ix == 0) acf(math.max(lo - 1, 1)) else scoresByLag(ix - 1)._2
            val next = if (ix == scoresByLag.length - 1) Double.MinValue
                       else scoresByLag(ix + 1)._2
            s >= prev && s > next
          }.map(_._1)
          val cand = if (localMax.nonEmpty) localMax else scoresByLag
          val top = cand.filter(_._2 > 0).sortBy { case (l, s) => (-s, l) }.take(math.max(k, 1))
          PeriodsDetect(top.map(_._1.toDouble),
            top.map { case (_, s) => math.rint(s * 10000) / 10000 })
        }
      out
    }

  private def seriesPeriodsDetect(a: Column, minP: Column, maxP: Column, k: Column): Column =
    seriesPeriodsUdf(a.cast("array<double>"), minP.cast("int"), maxP.cast("int"), k.cast("int"))

  /** ACF score of each caller-given period — the same centred-ACF
    * measure [[seriesPeriodsUdf]] ranks with (periods echoed in input
    * order; out-of-range or degenerate inputs score 0). */
  private val seriesPeriodsValidateUdf =
    udf { (v: Seq[Double], ps: Seq[Int]) =>
      val n = v.length
      if (n < 4) PeriodsDetect(ps.map(_.toDouble), ps.map(_ => 0.0))
      else {
        val mean = v.sum / n
        val c = Array.tabulate(n)(i => v(i) - mean)
        var denom = 0.0; var i = 0
        while (i < n) { denom += c(i) * c(i); i += 1 }
        def acf(lag: Int): Double =
          if (denom == 0 || lag <= 0 || lag >= n) 0.0
          else {
            var s = 0.0; var j = 0
            while (j + lag < n) { s += c(j) * c(j + lag); j += 1 }
            s / denom
          }
        PeriodsDetect(ps.map(_.toDouble),
          ps.map(p => math.rint(acf(p) * 10000) / 10000))
      }
    }

  private def seriesFitLine(a: Column): Column = {
    val n = size(a).cast("double")
    val sy = aggregate(a, lit(0.0d), (acc, y) => acc + y.cast("double"))
    val syy = aggregate(a, lit(0.0d), (acc, y) => acc + y.cast("double") * y.cast("double"))
    val sx = (n - 1) * n / 2
    val sxx = (n - 1) * n * (lit(2.0d) * n - 1) / 6
    val sxy = aggregate(
      zip_with(a, sequence(lit(0), size(a) - 1), (y, x) => y.cast("double") * x.cast("double")),
      lit(0.0d), (acc, v) => acc + v)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icpt = (sy - slope * sx) / n
    val r2 = slope * slope * (sxx - sx * sx / n) / (syy - sy * sy / n)
    struct(slope.as("slope"), icpt.as("interception"), r2.as("rsquare"))
  }

  /** Trailing FIR filter with coefficient normalization over the used
    * prefix (KQL series_fir, center=false, normalize=true). */
  private def seriesFir(a: Column, coefs: Column): Column = {
    val m = size(coefs)
    transform(sequence(lit(1), size(a)), i => {
      val k = least(i, m)
      val num = aggregate(sequence(lit(1), k), lit(0.0d),
        (acc, j) => acc + element_at(coefs, j).cast("double") *
          element_at(a, i - j + 1).cast("double"))
      val den = aggregate(sequence(lit(1), k), lit(0.0d),
        (acc, j) => acc + element_at(coefs, j).cast("double"))
      num / den
    })
  }

  /** Dynamic-time-warping distance between two series (classic
    * symmetric step, |·| local cost, no window): D(i,j) = |aᵢ−bⱼ| +
    * min(D(i−1,j), D(i,j−1), D(i−1,j−1)) — alignment-tolerant series
    * similarity where plain euclidean/fir breaks on phase shifts.
    * Nested aggregate FOLDS (outer over a's elements carrying the
    * previous DP row, inner over b's building the current row — the
    * row's own left neighbor makes a flat transform impossible):
    * O(n·m) runtime iteration, constant plan size (the series_iir
    * lesson). Integer-valued inputs keep every cell exact (< 2⁵³).
    * Empty inputs yield null (no alignment exists). */
  private def seriesDtw(a0: Column, b0: Column): Column = {
    val a = a0.cast("array<double>")
    val b = b0.cast("array<double>")
    val inf = lit(Double.MaxValue)
    // row 0: D(0,0) = 0, D(0,j>0) = inf
    val row0 = concat(array(lit(0.0d)),
      transform(b, _ => inf))
    // current row starts with D(i,0) = inf, then appends
    // min(up, upleft, left) + |a_i - b_j| left to right
    val last = aggregate(a, row0, (prev, av) =>
      aggregate(
        zip_with(b, sequence(lit(1), size(b)),
          (bv, j) => struct(bv.as("bv"), j.as("j"))),
        array(inf),
        (cur, e) => {
          val j = e.getField("j").cast("int")
          val up = element_at(prev, j + 1)
          val upLeft = element_at(prev, j)
          val left = element_at(cur, size(cur))
          concat(cur, array(
            least(up, upLeft, left) + abs(av - e.getField("bv"))))
        }))
    when(size(a) >= 1 && size(b) >= 1,
      element_at(last, size(b) + 1))
  }

  /** ADX series_iir(x, b, a): infinite-impulse-response filter
    * y[i] = (Σ_k b[k]·x[i−k] − Σ_{k≥1} a[k]·y[i−k]) / a[0], inputs
    * zero-padded before the series start. EWMA is the b=[α],
    * a=[1, α−1] special case; first-difference is b=[1,−1], a=[1].
    * One O(n·(|a|+|b|)) fold per row building the output array
    * incrementally (the recurrence needs its own history, so unlike
    * series_fir this cannot be a flat transform). Empty/short coef
    * guards matter: Spark's sequence(lo, hi) DESCENDS when lo > hi. */
  /** Autocorrelation of an integer series at lags 1..L, in integer
    * MICRO units: r_k = Σᵢ dxᵢ·dxᵢ₊ₖ ·10⁶ div Σᵢ dxᵢ² with
    * dx = x − floor(mean). The periodicity/seasonality probe (the same
    * measure series_periods_detect maximises) exposed directly — lag-k
    * spikes reveal ingest cadences, repeated templates, weekly cycles.
    * Centering uses floor(S/n) so every later step stays in Long
    * arithmetic (exact when the mean is integral — count series from
    * make-series detrend to that; the ≤1-unit centering bias is the
    * documented tradeoff for cross-engine integer exactness). O(n·L)
    * aggregate folds, constant plan size; null when n < 2 or the
    * series is constant (den = 0). */
  private def seriesAcf(x0: Column, lags0: Column): Column = {
    val x = x0.cast("array<long>")
    val lags = lags0.cast("int")
    val n = size(x)
    val s = aggregate(x, lit(0L), (a, v) => a + v)
    val mu = floor(s.cast("double") / n.cast("double")).cast("long")
    val dx = transform(x, v => v - mu)
    val den = aggregate(dx, lit(0L), (a, v) => a + v * v)
    def acfAt(k: Column): Column =
      aggregate(sequence(lit(1), n - k), lit(0L),
        (a, i) => a + element_at(dx, i) * element_at(dx, i + k))
    when(n >= lit(2) && den > 0 && lags >= 1,
      transform(sequence(lit(1), least(lags, n - 1)),
        k => call_function("div", acfAt(k) * lit(1000000L), den)))
  }

  /** Cross-covariance of two aligned integer series at lags −L..L (the
    * lead-lag/alignment detector next to [[seriesAcf]]): element 1+L+k
    * holds Σᵢ dxᵢ·dyᵢ₊ₖ over the valid overlap, dx/dy floor-mean
    * centered like series_acf. UNNORMALIZED by design — normalising
    * needs √(Σdx²·Σdy²), which breaks integer cross-engine exactness;
    * the argmax lag (what lead-lag analysis actually reads) is
    * invariant to the scale. Null when lengths differ or n < 2.
    * O(n·L) folds, constant plan size. */
  private def seriesXcorr(x0: Column, y0: Column, lags0: Column): Column = {
    val x = x0.cast("array<long>")
    val y = y0.cast("array<long>")
    val lags = lags0.cast("int")
    val n = size(x)
    def centered(a: Column): Column = {
      val s = aggregate(a, lit(0L), (acc, v) => acc + v)
      val mu = floor(s.cast("double") / size(a).cast("double")).cast("long")
      transform(a, v => v - mu)
    }
    val dx = centered(x)
    val dy = centered(y)
    def covAt(k: Column): Column = {
      val lo = greatest(lit(1), lit(1) - k)
      val hi = least(n, n - k)
      when(hi >= lo,
        aggregate(sequence(lo, hi), lit(0L),
          (acc, i) => acc + element_at(dx, i) * element_at(dy, i + k)))
        .otherwise(lit(0L))
    }
    when(n >= 2 && size(y) === n && lags >= 0,
      transform(sequence(lit(0) - lags, lags), k => covAt(k)))
  }

  private def seriesIir(x: Column, b: Column, a: Column): Column = {
    val a0 = element_at(a, 1).cast("double")
    aggregate(sequence(lit(1), size(x)),
      array().cast("array<double>"),
      (ys, i) => {
        val bsum = when(size(b) >= 1,
          aggregate(sequence(lit(1), size(b)), lit(0.0d),
            (acc, j) => acc + when(i - j + 1 >= 1,
              element_at(b, j).cast("double") *
                element_at(x, i - j + 1).cast("double")).otherwise(lit(0.0d))))
          .otherwise(lit(0.0d))
        val asum = when(size(a) >= 2,
          aggregate(sequence(lit(2), size(a)), lit(0.0d),
            (acc, j) => acc + when(i - j + 1 >= 1,
              element_at(a, j).cast("double") *
                element_at(ys, i - j + 1)).otherwise(lit(0.0d))))
          .otherwise(lit(0.0d))
        concat(ys, array((bsum - asum) / a0))
      })
  }

  private def seriesStats(a: Column): Column = {
    val n = size(a).cast("double")
    val sy = aggregate(a, lit(0.0d), (acc, y) => acc + y.cast("double"))
    val syy = aggregate(a, lit(0.0d), (acc, y) => acc + y.cast("double") * y.cast("double"))
    val avg = sy / n
    val stdev = sqrt((syy - n * avg * avg) / (n - 1))
    to_json(struct(array_min(a).cast("double").as("min"),
      array_max(a).cast("double").as("max"), avg.as("avg"),
      stdev.as("stdev"), sy.as("sum"), size(a).cast("long").as("len")))
  }

  /** KQL multi-array array_sort_asc/desc: sort the first array, reorder
    * the others by the same permutation (stable on ties via the original
    * index). Returns an array of the reordered arrays — pure HOF
    * expressions, element types must be homogeneous across the arrays
    * (the KQL dynamic-of-dynamics shape under Spark's typing). */
  def parallelSort(arrs: List[Column], asc: Boolean): Column = {
    val key = arrs.head
    // sequence(1, 0) would default to step -1 on an empty key array —
    // guard with an explicit empty index list (r2 ADVICE)
    val idx = when(size(key) > 0, sequence(lit(1), size(key)))
      .otherwise(array().cast("array<int>"))
    val paired0 = zip_with(key, idx, (v, i) => struct(v.as("v"), i.as("i")))
    // explicit comparator in BOTH directions: nulls last and stable on
    // ties via the original index — reverse(array_sort) anti-stabilizes
    // tie groups and floats nulls first (r2 ADVICE)
    val sign = if (asc) 1 else -1
    val paired = array_sort(paired0, (l, r) => {
      val (lv, rv) = (l.getField("v"), r.getField("v"))
      val tie = (l.getField("i") - r.getField("i")).cast("int")
      when(lv.isNull && rv.isNull, tie)
        .when(lv.isNull, lit(1)).when(rv.isNull, lit(-1))
        .when(lv < rv, lit(-sign)).when(lv > rv, lit(sign))
        .otherwise(tie)
    })
    val order = transform(paired, p => p.getField("i"))
    val sortedHead = transform(paired, p => p.getField("v"))
    array((sortedHead :: arrs.tail.map(a =>
      transform(order, i => element_at(a, i)))): _*)
  }

  /** Cyclic left rotation by n (negative n rotates right). */
  def rotateLeft(a: Column, n: Column): Column = {
    val len = size(a)
    val k = pmod(n.cast("int"), len)
    when(len <= 0, a).otherwise(
      when(k === 0, a).otherwise(
        concat(slice(a, k + 1, len - k), slice(a, lit(1), k))))
  }

  /** Shift left by n dropping shifted-out elements, padding with `fill`
    * (KQL array_shift_left; negative n shifts right). */
  def shiftLeft(a: Column, n: Column, fill: Column): Column = {
    val len = size(a)
    val k = least(greatest(n.cast("int"), -len), len) // clamp to [-len, len]
    // coerce fill (possibly untyped null) to the array's element type so
    // concat(array<T>, array_repeat(fill, _)) type-checks
    val fillT = when(lit(true), fill).otherwise(element_at(a, lit(1)))
    val padded = (cnt: Column) => array_repeat(fillT, cnt)
    when(len <= 0, a).otherwise(
      when(k >= 0, concat(slice(a, k + 1, len - k), padded(k)))
        .otherwise(concat(padded(-k), slice(a, lit(1), len + k))))
  }

  def haversineMeters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val r = lit(6371000.0)
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    r * lit(2.0) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }

  /** Initial great-circle bearing from (lon1,lat1) to (lon2,lat2), in
    * radians — the spherical-trig standard form. */
  private def bearingRad(lon1: Column, lat1: Column,
                         lon2: Column, lat2: Column): Column = {
    val dLon = radians(lon2 - lon1)
    atan2(sin(dLon) * cos(radians(lat2)),
      cos(radians(lat1)) * sin(radians(lat2)) -
        sin(radians(lat1)) * cos(radians(lat2)) * cos(dLon))
  }

  /** geo_distance_point_to_line(lon, lat, LineString-dynamic): minimum
    * spherical distance to any segment via the cross-track/along-track
    * decomposition (perpendicular |cross-track| when Q projects inside
    * the segment, else the nearer endpoint; A=B segments collapse to a
    * point). Pure Column math, staged through per-segment structs so
    * each haversine/bearing is evaluated ONCE (HOF lambdas get no
    * subexpression elimination). Invalid input — not a LineString,
    * fewer than 2 positions, or any malformed coordinate — yields null
    * (the Kusto convention), never a confident number. */
  def geoDistancePointToLine(lon: Column, lat: Column, line: Column): Column = {
    val R = lit(6371000.0)
    val parsed = from_json(line.cast("string"),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("coordinates",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType))))))
    val coords = parsed.getField("coordinates")
    def cx(i: Column) = element_at(element_at(coords, i), 1)
    def cy(i: Column) = element_at(element_at(coords, i), 2)
    // stage 1: the trig-heavy quantities, once per segment
    val segs = transform(sequence(lit(1), size(coords) - 1), i => struct(
      haversineMeters(cx(i), cy(i), lon, lat).as("d13"),
      haversineMeters(cx(i), cy(i), cx(i + 1), cy(i + 1)).as("d12"),
      (bearingRad(cx(i), cy(i), lon, lat) -
        bearingRad(cx(i), cy(i), cx(i + 1), cy(i + 1))).as("th"),
      haversineMeters(cx(i + 1), cy(i + 1), lon, lat).as("dB")))
    // NULL-PROPAGATING clamp: greatest/least SKIP nulls, which would
    // turn a malformed coordinate's null into asin(1) — a confident
    // wrong distance instead of null
    def clamp(x: Column): Column =
      when(x < -1.0, -1.0).when(x > 1.0, 1.0).otherwise(x)
    // stage 2: the decision tree over materialized fields
    val dists = transform(segs, s => {
      val d13 = s.getField("d13"); val d12 = s.getField("d12")
      val th = s.getField("th"); val dB = s.getField("dB")
      val dxt = asin(clamp(sin(d13 / R) * sin(th))) * R
      // signed along-track: negative when Q falls behind A
      val dat = acos(clamp(cos(d13 / R) / cos(dxt / R))) * R * signum(cos(th))
      when(d12 === 0.0, d13)
        .when(dat < 0.0, d13)
        .when(dat > d12, dB)
        .otherwise(abs(dxt))
    })
    // guard BEFORE sequence(1, n-1): a 1-point line would make it
    // descend ([1, 0]) instead of being empty; a null element means a
    // malformed coordinate (array_min would silently skip it)
    when(coords.isNull || size(coords) < 2 ||
        !(parsed.getField("type") <=> lit("LineString")) || // null-safe: a missing type is invalid too
        exists(dists, d => d.isNull), lit(null).cast("double"))
      .otherwise(array_min(dists))
  }

  /** series_fit_poly output shape. */
  case class FitPoly(rsquare: Double, coefficients: Seq[Double],
                     variance: Double, rvariance: Double)

  /** Degree-d polynomial least squares over x = 0..n−1: build the
    * (d+1)×(d+1) normal equations from power sums, solve with Gaussian
    * elimination + partial pivoting. Coefficients returned
    * highest-degree first (KQL convention). */
  private val seriesFitPolyUdf = udf { (v: Seq[Double], d0: Int) =>
    val n = v.length
    val d = math.max(0, math.min(d0, math.max(n - 1, 0)))
    val m = d + 1
    // power sums S_p = Σ x^p for p in 0..2d; moment sums T_p = Σ y·x^p
    val s = new Array[Double](2 * d + 1)
    val t = new Array[Double](m)
    var i = 0
    while (i < n) {
      var xp = 1.0
      var p = 0
      while (p <= 2 * d) {
        s(p) += xp
        if (p < m) t(p) += v(i) * xp
        xp *= i
        p += 1
      }
      i += 1
    }
    // solve A c = t where A(r)(c) = S_{r+c}
    val a = Array.tabulate(m, m)((r, c) => s(r + c))
    val b = t.clone()
    var col = 0
    while (col < m) {
      var piv = col
      var r = col + 1
      while (r < m) { if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r; r += 1 }
      val tmp = a(col); a(col) = a(piv); a(piv) = tmp
      val tb = b(col); b(col) = b(piv); b(piv) = tb
      if (math.abs(a(col)(col)) > 1e-12) {
        r = 0
        while (r < m) {
          if (r != col) {
            val f = a(r)(col) / a(col)(col)
            var c2 = col
            while (c2 < m) { a(r)(c2) -= f * a(col)(c2); c2 += 1 }
            b(r) -= f * b(col)
          }
          r += 1
        }
      }
      col += 1
    }
    val coef = Array.tabulate(m)(k =>
      if (math.abs(a(k)(k)) > 1e-12) b(k) / a(k)(k) else 0.0)
    // fit quality
    val mean = if (n == 0) 0.0 else v.sum / n
    var ssTot = 0.0; var ssRes = 0.0
    i = 0
    while (i < n) {
      var yh = 0.0; var xp = 1.0
      var k = 0
      while (k < m) { yh += coef(k) * xp; xp *= i; k += 1 }
      ssTot += (v(i) - mean) * (v(i) - mean)
      ssRes += (v(i) - yh) * (v(i) - yh)
      i += 1
    }
    val r2 = if (ssTot == 0) 1.0 else 1.0 - ssRes / ssTot
    FitPoly(r2, coef.reverse.toSeq, ssTot / math.max(n, 1), ssRes / math.max(n, 1))
  }

  // ----------------------------------------------------------------- FFT
  case class ComplexSeries(re: Seq[Double], im: Seq[Double])

  /** In-place iterative radix-2 Cooley–Tukey; n must be a power of two. */
  private def fftPow2(re: Array[Double], im: Array[Double], invert: Boolean): Unit = {
    val n = re.length
    var i = 1; var j = 0
    while (i < n) { // bit-reversal permutation
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = (if (invert) 2 else -2) * math.Pi / len
      val wr = math.cos(ang); val wi = math.sin(ang)
      var base = 0
      while (base < n) {
        var cr = 1.0; var ci = 0.0
        var k = 0
        while (k < len / 2) {
          val ur = re(base + k); val ui = im(base + k)
          val vr0 = re(base + k + len / 2); val vi0 = im(base + k + len / 2)
          val vr = vr0 * cr - vi0 * ci
          val vi = vr0 * ci + vi0 * cr
          re(base + k) = ur + vr; im(base + k) = ui + vi
          re(base + k + len / 2) = ur - vr; im(base + k + len / 2) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr; cr = ncr
          k += 1
        }
        base += len
      }
      len <<= 1
    }
  }

  private val seriesFftUdf = udf { (r0: Seq[Double], i0: Seq[Double], invert: Boolean) =>
    if (r0 == null) null
    else {
      val n = r0.length
      val re = r0.toArray
      val im = if (i0 == null) new Array[Double](n) else i0.toArray
      if (n > 0 && Integer.bitCount(n) == 1) fftPow2(re, im, invert)
      else {
        // direct DFT for non-power-of-two lengths
        val or = new Array[Double](n); val oi = new Array[Double](n)
        val sign = if (invert) 2.0 else -2.0
        var k = 0
        while (k < n) {
          var sr = 0.0; var si = 0.0
          var t = 0
          while (t < n) {
            val ang = sign * math.Pi * k * t / n
            val c = math.cos(ang); val s = math.sin(ang)
            sr += re(t) * c - im(t) * s
            si += re(t) * s + im(t) * c
            t += 1
          }
          or(k) = sr; oi(k) = si
          k += 1
        }
        System.arraycopy(or, 0, re, 0, n); System.arraycopy(oi, 0, im, 0, n)
      }
      if (invert && n > 0) {
        var k = 0
        while (k < n) { re(k) /= n; im(k) /= n; k += 1 }
      }
      ComplexSeries(re.toSeq, im.toSeq)
    }
  }

  // ----------------------------------------------------- CSV / XML parse
  /** RFC 4180 single-line CSV: quoted fields may contain commas and
    * doubled quotes. */
  private val parseCsvUdf = udf { s: String =>
    if (s == null) null
    else {
      val out = scala.collection.mutable.ListBuffer[String]()
      val cur = new StringBuilder
      var i = 0; var inQ = false
      while (i < s.length) {
        val c = s.charAt(i)
        if (inQ) {
          if (c == '"') {
            if (i + 1 < s.length && s.charAt(i + 1) == '"') { cur += '"'; i += 1 }
            else inQ = false
          } else cur += c
        } else c match {
          case '"' => inQ = true
          case ',' => out += cur.result(); cur.clear()
          case _ => cur += c
        }
        i += 1
      }
      out += cur.result()
      out.toSeq
    }
  }

  /** XML → canonical JSON (KQL parse_xml shape: element name → object;
    * attributes as "@attr"; text content as "#text" when mixed, or the
    * element's value when alone; repeated siblings collapse to arrays). */
  private def xmlToJson(n: org.w3c.dom.Element): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val atts = n.getAttributes
    val attPairs = (0 until atts.getLength).map { i =>
      val a = atts.item(i)
      "\"@" + esc(a.getNodeName) + "\":\"" + esc(a.getNodeValue) + "\""
    }
    val kids = n.getChildNodes
    val elems = (0 until kids.getLength).map(kids.item)
      .collect { case e: org.w3c.dom.Element => e }
    val text = (0 until kids.getLength).map(kids.item)
      .collect { case t: org.w3c.dom.Text => t.getData }.mkString.trim
    if (elems.isEmpty && attPairs.isEmpty) "\"" + esc(text) + "\""
    else {
      val grouped = elems.groupBy(_.getTagName)
      val childPairs = grouped.toSeq.sortBy(_._1).map { case (tag, es) =>
        val vs = es.map(xmlToJson)
        "\"" + esc(tag) + "\":" + (if (vs.length == 1) vs.head else vs.mkString("[", ",", "]"))
      }
      val textPair = if (text.nonEmpty) Seq("\"#text\":\"" + esc(text) + "\"") else Nil
      (attPairs ++ childPairs ++ textPair).mkString("{", ",", "}")
    }
  }

  private val parseXmlUdf = udf { s: String =>
    if (s == null) null
    else try {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      val doc = f.newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(s.getBytes("UTF-8")))
      val root = doc.getDocumentElement
      "{\"" + root.getTagName + "\":" + xmlToJson(root) + "}"
    } catch { case _: Exception => null }
  }

  // ----------------------------------------------------------- punycode
  // KQL punycode_from_string/punycode_to_string operate on RAW punycode
  // (no "xn--" label prefix); the JDK IDN codec implements RFC 3492, so
  // we add/strip the ACE prefix around it. Pure-ASCII inputs are the
  // degenerate form: encoded as the string plus a trailing '-'.
  /** Whole-domain IDN encode/decode (punycode_domain_*): the JDK walks
    * the dot-separated labels itself. Same JDK-bound justification as
    * the per-label pair below. */
  private val punyDomainEncodeUdf = udf { s: String =>
    if (s == null) null
    // codec failure ⇒ null, matching the per-label punycode pair and the
    // registry-wide invalid-input convention ('' would be
    // indistinguishable from an empty domain)
    else try java.net.IDN.toASCII(s) catch { case _: Exception => null }
  }
  private val punyDomainDecodeUdf = udf { s: String =>
    if (s == null) null
    else try java.net.IDN.toUnicode(s) catch { case _: Exception => null }
  }

  /** parse_command_line (windows rules — the only dialect KQL supports):
    * the CommandLineToArgvW algorithm. argv[0] (the program name) uses
    * the SIMPLIFIED rule — backslashes are literal, a quote only
    * toggles quoted mode, the token ends at the first unquoted
    * whitespace; backslash counting applies only to the arguments
    * (2n backslashes before a quote collapse to n, 2n+1 escape the
    * quote, quotes toggle in-quote state). Deliberate UDF: a character
    * state machine. */
  private val cmdLineUdf = udf { (cmd: String) =>
    if (cmd == null) null
    else {
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var inQuote = false
      var started = false
      var i = 0
      // program name first, under the no-backslash-counting rule
      while (i < cmd.length && (cmd.charAt(i) == ' ' || cmd.charAt(i) == '\t')) i += 1
      var argv0Done = i >= cmd.length
      while (!argv0Done) {
        val c = cmd.charAt(i)
        if (c == '"') { inQuote = !inQuote; started = true; i += 1 }
        else if ((c == ' ' || c == '\t') && !inQuote) argv0Done = true
        else { cur.append(c); started = true; i += 1 }
        if (i >= cmd.length) argv0Done = true
      }
      if (started) { out += cur.toString; cur.clear(); started = false }
      inQuote = false
      while (i < cmd.length) {
        val c = cmd.charAt(i)
        if (c == '\\') {
          var nBs = 0
          while (i < cmd.length && cmd.charAt(i) == '\\') { nBs += 1; i += 1 }
          if (i < cmd.length && cmd.charAt(i) == '"') {
            cur.append("\\" * (nBs / 2))
            if (nBs % 2 == 1) { cur.append('"'); i += 1 } // escaped quote
            started = true
          } else { cur.append("\\" * nBs); started = true }
        } else if (c == '"') {
          // post-2008 CommandLineToArgvW: inside quotes, "" emits a
          // literal quote and STAYS quoted
          if (inQuote && i + 1 < cmd.length && cmd.charAt(i + 1) == '"') {
            cur.append('"'); started = true; i += 2
          } else { inQuote = !inQuote; started = true; i += 1 }
        } else if ((c == ' ' || c == '\t') && !inQuote) {
          if (started) { out += cur.toString; cur.clear(); started = false }
          i += 1
        } else { cur.append(c); started = true; i += 1 }
      }
      if (started) out += cur.toString
      out.toArray
    }
  }

  /** geo_geohash_neighbors: the 8 surrounding cells at the same
    * precision, by decoding the cell's bounds and re-encoding the 8
    * offset centers. Deterministic NW,N,NE,W,E,SW,S,SE order; longitude
    * wraps at ±180, latitude neighbors beyond the poles are dropped. */
  private val geohashNeighborsUdf = udf { (h: String) =>
    if (h == null || h.isEmpty ||
        !h.toLowerCase.forall(geohashChars.contains(_))) null
    else {
      val (lonLo, lonHi, latLo, latHi) = geohashBounds(h)
      val (cLon, cLat) = ((lonLo + lonHi) / 2, (latLo + latHi) / 2)
      val (dLon, dLat) = (lonHi - lonLo, latHi - latLo)
      val offsets = Seq((-dLon, dLat), (0.0, dLat), (dLon, dLat),
        (-dLon, 0.0), (dLon, 0.0),
        (-dLon, -dLat), (0.0, -dLat), (dLon, -dLat))
      offsets.collect {
        case (dx, dy) if cLat + dy > -90 && cLat + dy < 90 =>
          geohashEncode(cLon + dx, cLat + dy, h.length)
      }.toArray
    }
  }

  private val punyEncodeUdf = udf { s: String =>
    if (s == null) null
    else if (s.forall(_ < 128)) s + "-"
    else try java.net.IDN.toASCII(s).stripPrefix("xn--")
    catch { case _: Exception => "" }
  }
  private val punyDecodeUdf = udf { s: String =>
    if (s == null) null
    else try {
      val d = java.net.IDN.toUnicode("xn--" + s)
      if (d == "xn--" + s) "" else d // IDN returns input unchanged on failure
    } catch { case _: Exception => "" }
  }

  // ------------------------------------------------------------ S2 cells
  // The standard public S2 construction: lat/lng → unit XYZ → cube face
  // (u,v) → quadratic (s,t) → 30-bit (i,j) → Hilbert position → cell id,
  // token = hex id with trailing zeros stripped. Bit-serial Hilbert
  // encoding (2 bits/level with orientation state) — an iterative loop,
  // hence compact UDFs (COVERAGE §2.11 trade).
  private val s2PosToOrientation = Array(1, 0, 0, 3) // SWAP=1, INVERT=2
  private val s2IjToPos = Array(
    Array(0, 1, 3, 2), Array(0, 3, 1, 2), Array(2, 3, 1, 0), Array(2, 1, 3, 0))
  private val s2PosToIJ = Array(
    Array(0, 1, 3, 2), Array(0, 2, 3, 1), Array(3, 2, 0, 1), Array(3, 1, 0, 2))

  private def s2Token(lon: Double, lat: Double, level: Int): String = {
    val l = math.max(0, math.min(30, level))
    val phi = math.toRadians(lat); val theta = math.toRadians(lon)
    val x = math.cos(phi) * math.cos(theta)
    val y = math.cos(phi) * math.sin(theta)
    val z = math.sin(phi)
    val (ax, ay, az) = (math.abs(x), math.abs(y), math.abs(z))
    val axis = if (ax > ay && ax > az) 0 else if (ay > az) 1 else 2
    val comp = axis match { case 0 => x; case 1 => y; case _ => z }
    val face = axis + (if (comp < 0) 3 else 0)
    val (u, v) = face match {
      case 0 => (y / x, z / x)
      case 1 => (-x / y, z / y)
      case 2 => (-x / z, -y / z)
      case 3 => (z / x, y / x)
      case 4 => (z / y, -x / y)
      case _ => (-y / z, -x / z)
    }
    def st(w: Double) = if (w >= 0) 0.5 * math.sqrt(1 + 3 * w) else 1 - 0.5 * math.sqrt(1 - 3 * w)
    def ij(s: Double) = math.max(0, math.min((1 << 30) - 1, (s * (1 << 30)).toInt))
    val i = ij(st(u)); val j = ij(st(v))
    var orient = face & 1
    var pos = 0L
    var k = 29
    while (k >= 0) {
      val cell = (((i >> k) & 1) << 1) | ((j >> k) & 1)
      val p = s2IjToPos(orient)(cell)
      pos = (pos << 2) | p
      orient ^= s2PosToOrientation(p)
      k -= 1
    }
    var id = (face.toLong << 61) | (pos << 1) | 1L
    val lsb = 1L << (2 * (30 - l))
    id = (id & -lsb) | lsb
    f"$id%016x".reverse.dropWhile(_ == '0').reverse
  }

  private def s2Center(token: String): (Double, Double) = {
    val id = java.lang.Long.parseUnsignedLong(token.padTo(16, '0'), 16)
    val face = (id >>> 61).toInt
    val pos = (id >>> 1) & ((1L << 60) - 1)
    var orient = face & 1
    var i = 0; var j = 0
    var k = 29
    while (k >= 0) {
      val p = ((pos >> (2 * k)) & 3).toInt
      val cell = s2PosToIJ(orient)(p)
      i = (i << 1) | (cell >> 1)
      j = (j << 1) | (cell & 1)
      orient ^= s2PosToOrientation(p)
      k -= 1
    }
    val s = (i + 0.5) / (1 << 30); val t = (j + 0.5) / (1 << 30)
    def uv(w: Double) = if (w >= 0.5) (4 * w * w - 1) / 3 else (1 - 4 * (1 - w) * (1 - w)) / 3
    val u = uv(s); val v = uv(t)
    val (x, y, z) = face match {
      case 0 => (1.0, u, v)
      case 1 => (-u, 1.0, v)
      case 2 => (-u, -v, 1.0)
      case 3 => (-1.0, -v, -u)
      case 4 => (v, -1.0, -u)
      case _ => (v, u, -1.0)
    }
    val lat = math.toDegrees(math.atan2(z, math.sqrt(x * x + y * y)))
    val lon = math.toDegrees(math.atan2(y, x))
    (lon, lat)
  }

  private val s2CellUdf = udf { (lon: Double, lat: Double, level: Int) =>
    s2Token(lon, lat, level) }
  private val s2CenterUdf = udf { (t: String) =>
    if (t == null || t.isEmpty) null else s2Center(t) }

  /** Lanczos (g=7, 9-term) log-gamma for x > 0.5, as a fixed chain of
    * Column arithmetic — no UDF, stays in codegen. ~15 significant
    * digits, the standard public-domain coefficient set. */
  private def lanczosLgamma(x: Column): Column = {
    val g = 7.0
    val c = Seq(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
      771.32342877765313, -176.61502916214059, 12.507343278686905,
      -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
    val z = x - 1.0
    val a = c.zipWithIndex.tail.foldLeft(lit(c.head)) { case (acc, (ci, i)) =>
      acc + lit(ci) / (z + lit(i.toDouble))
    }
    val t = z + lit(g + 0.5)
    lit(0.5 * math.log(2 * math.Pi)) + (z + lit(0.5)) * log(t) - t + log(a)
  }

  /** Regularized incomplete beta I_x(a,b) via the Numerical-Recipes-style
    * Lentz continued fraction — iterative with data-dependent exit, hence
    * a compact UDF (same trade as series_decompose, COVERAGE §2.11). */
  private def betaCdf(x: Double, a: Double, b: Double): Double = {
    if (x <= 0.0) return 0.0
    if (x >= 1.0) return 1.0
    def lg(z: Double) = {
      val c = Array(0.99999999999980993, 676.5203681218851, -1259.1392167224028,
        771.32342877765313, -176.61502916214059, 12.507343278686905,
        -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7)
      val zz = z - 1.0
      var acc = c(0); var i = 1
      while (i < 9) { acc += c(i) / (zz + i); i += 1 }
      val t = zz + 7.5
      0.5 * math.log(2 * math.Pi) + (zz + 0.5) * math.log(t) - t + math.log(acc)
    }
    def betacf(a: Double, b: Double, x: Double): Double = {
      val eps = 3e-14; val fpmin = 1e-300
      val qab = a + b; val qap = a + 1.0; val qam = a - 1.0
      var cc = 1.0
      var d = 1.0 - qab * x / qap
      if (math.abs(d) < fpmin) d = fpmin
      d = 1.0 / d
      var h = d
      var m = 1
      while (m <= 200) {
        val m2 = 2 * m
        var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
        cc = 1.0 + aa / cc; if (math.abs(cc) < fpmin) cc = fpmin
        d = 1.0 / d; h *= d * cc
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d; if (math.abs(d) < fpmin) d = fpmin
        cc = 1.0 + aa / cc; if (math.abs(cc) < fpmin) cc = fpmin
        d = 1.0 / d
        val del = d * cc
        h *= del
        if (math.abs(del - 1.0) < eps) m = 201 else m += 1
      }
      h
    }
    val lnFront = lg(a + b) - lg(a) - lg(b) + a * math.log(x) + b * math.log(1.0 - x)
    if (x < (a + 1.0) / (a + b + 2.0))
      math.exp(lnFront) * betacf(a, b, x) / a
    else
      1.0 - math.exp(lnFront) * betacf(b, a, 1.0 - x) / b
  }

  private val betaCdfUdf = udf { (x: Double, a: Double, b: Double) => betaCdf(x, a, b) }

  /** erf via the regularized lower incomplete gamma P(1/2, x²):
    * series expansion for x² < 1.5, Lentz continued fraction for the
    * complement above it (Numerical-Recipes gammp/gammq structure) —
    * accurate to ~1 ulp over the whole line, unlike the 1.5e-7
    * Abramowitz–Stegun polynomial. */
  private def erfImpl(x: Double): Double = {
    if (x == 0.0) return 0.0
    val a = 0.5
    val xx = x * x
    val lnGammaHalf = 0.5723649429247001 // ln Γ(1/2) = ln √π
    val p =
      if (xx < 1.5) { // series: P(a,x) = e^{-x} x^a / Γ(a) · Σ x^n / (a)_{n+1}
        var ap = a; var sum = 1.0 / a; var del = sum
        var n = 0
        while (n < 200 && math.abs(del) >= math.abs(sum) * 1e-16) {
          ap += 1.0; del *= xx / ap; sum += del; n += 1
        }
        sum * math.exp(-xx + a * math.log(xx) - lnGammaHalf)
      } else { // Lentz continued fraction for Q(a,x); P = 1 − Q
        val tiny = 1e-300
        var b = xx + 1.0 - a
        var c = 1.0 / tiny
        var d = 1.0 / b
        var h = d
        var i = 1
        var done = false
        while (i <= 200 && !done) {
          val an = -i * (i - a)
          b += 2.0
          d = an * d + b; if (math.abs(d) < tiny) d = tiny
          c = b + an / c; if (math.abs(c) < tiny) c = tiny
          d = 1.0 / d
          val del = d * c
          h *= del
          if (math.abs(del - 1.0) <= 1e-16) done = true
          i += 1
        }
        1.0 - math.exp(-xx + a * math.log(xx) - lnGammaHalf) * h
      }
    if (x > 0) p else -p
  }

  private val erfUdf = udf { (x: Double) => erfImpl(x) }

  /** Per-row (key, type) extraction for the `buildschema` aggregate:
    * JSON type inspection is Jackson-bound — no Column primitive can
    * distinguish the NUMBER 1 from the STRING "1" inside a JSON text
    * (the COVERAGE 2.11 JDK/library-bound UDF class). Types use the
    * ADX spellings (long/real/string/bool/array/object/null); a
    * non-object top level reports under the __value key. */
  private[kql] val jsonKeyTypesUdf = udf { (s: String) =>
    if (s == null) Seq.empty[String]
    else try {
      // shared mapper (the treepathFn lesson): constructing an
      // ObjectMapper PER ROW dominated the walk itself; readTree on a
      // configured mapper is thread-safe
      val m = treepathMapper.readTree(s)
      def ty(n: com.fasterxml.jackson.databind.JsonNode): String =
        if (n == null || n.isNull) "null"
        else if (n.isTextual) "string"
        else if (n.isIntegralNumber) "long"
        else if (n.isFloatingPointNumber) "real"
        else if (n.isBoolean) "bool"
        else if (n.isArray) "array"
        else if (n.isObject) "object" else "null"
      if (m != null && m.isObject) {
        val it = m.fields()
        val b = Seq.newBuilder[String]
        while (it.hasNext) {
          val e = it.next(); b += e.getKey + "\u0001" + ty(e.getValue)
        }
        b.result()
      } else Seq("__value\u0001" + ty(m))
    } catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
  }

  /** Render the unioned (key, type) pairs as ADX buildschema JSON:
    * single-typed keys map to the type string, multi-typed keys to the
    * sorted type array. Runs once per AGGREGATED row (group-sized). */
  private[kql] val schemaFormatUdf = udf { (pairs: Seq[String]) =>
    val m = scala.collection.mutable.LinkedHashMap[String, List[String]]()
    pairs.sorted.foreach { pr =>
      val i = pr.indexOf('\u0001')
      val (k, t) = (pr.substring(0, i), pr.substring(i + 1))
      m(k) = m.getOrElse(k, Nil) :+ t
    }
    m.map { case (k, ts) =>
      "\"" + escJsonKey(k) + "\":" + (if (ts.size == 1) "\"" + ts.head + "\""
        else ts.map("\"" + _ + "\"").mkString("[", ",", "]"))
    }.mkString("{", ",", "}")
  }

  /** JSON-escape a buildschema key: dynamic-column keys are arbitrary
    * data, so a quote/backslash/control char must be escaped or the
    * rendered schema string is invalid JSON. */
  private def escJsonKey(k: String): String = {
    val b = new StringBuilder(k.length + 2)
    k.foreach {
      case '\\' => b.append("\\\\")
      case '"'  => b.append("\\\"")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.result()
  }

  /** Inverse beta CDF by bisection on the monotone CDF — 60 halvings
    * reach ~1e-18 interval width, beyond double resolution. */
  private val betaInvUdf = udf { (p: Double, a: Double, b: Double) =>
    if (p <= 0.0) 0.0
    else if (p >= 1.0) 1.0
    else {
      var lo = 0.0; var hi = 1.0; var i = 0
      while (i < 60) {
        val mid = (lo + hi) / 2
        if (betaCdf(mid, a, b) < p) lo = mid else hi = mid
        i += 1
      }
      (lo + hi) / 2
    }
  }

  /** Per-phase means tiled over the series (the seasonal component on its
    * own). period ≤ 0 → autodetect via best autocorrelation lag (the
    * series_periods_detect heuristic). */
  private val seriesSeasonalUdf = udf { (v: Seq[Double], p0: Int) =>
    val n = v.length
    val p =
      if (p0 > 0) p0
      else {
        // best normalized autocorrelation lag in [2, n/2]
        val mean = if (n == 0) 0.0 else v.sum / n
        val c0 = v.map(x => (x - mean) * (x - mean)).sum
        var best = 1; var bestR = 0.0
        var lag = 2
        while (lag <= n / 2) {
          var s = 0.0; var i = lag
          while (i < n) { s += (v(i) - mean) * (v(i - lag) - mean); i += 1 }
          val r = if (c0 == 0) 0.0 else s / c0
          if (r > bestR) { bestR = r; best = lag }
          lag += 1
        }
        best
      }
    if (n == 0 || p <= 1) Seq.fill(n)(0.0)
    else {
      val phaseSum = new Array[Double](p); val phaseCnt = new Array[Int](p)
      var i = 0
      while (i < n) { phaseSum(i % p) += v(i); phaseCnt(i % p) += 1; i += 1 }
      Seq.tabulate(n)(i => phaseSum(i % p) / math.max(phaseCnt(i % p), 1))
    }
  }

  /** Forecast: train trend (least-squares line) + seasonal (phase means)
    * on the first n−points elements, emit the modeled baseline for the
    * whole horizon (KQL series_decompose_forecast with a known period). */
  private val seriesForecastUdf = udf { (v: Seq[Double], points: Int, p: Int) =>
    val n = v.length
    val m = math.max(n - math.max(points, 0), 1)
    // line fit over [0, m)
    var sx = 0.0; var sy = 0.0; var sxx = 0.0; var sxy = 0.0
    var i = 0
    while (i < m) { sx += i; sy += v(i); sxx += i.toDouble * i; sxy += i * v(i); i += 1 }
    val den = m * sxx - sx * sx
    val slope = if (den == 0) 0.0 else (m * sxy - sx * sy) / den
    val icpt = sy / m - slope * sx / m
    val pp = math.max(p, 1)
    val phaseSum = new Array[Double](pp); val phaseCnt = new Array[Int](pp)
    i = 0
    while (i < m) {
      val detr = v(i) - (icpt + slope * i)
      phaseSum(i % pp) += detr; phaseCnt(i % pp) += 1; i += 1
    }
    Seq.tabulate(n) { i =>
      val seas = if (phaseCnt(i % pp) == 0) 0.0 else phaseSum(i % pp) / phaseCnt(i % pp)
      icpt + slope * i + seas
    }
  }

  /** Weighted nearest-rank percentile inside an aggregation: sort the
    * collected (x, w) pairs, take the first x whose running weight
    * reaches frac·total. The scan is a compact UDF: a HOF fold would
    * inline the total-weight subtree into every step (O(n²) — measured
    * hanging on 24k-element groups). Collecting the group is inherent to
    * the exact weighted quantile, same memory shape as make_list. */
  private val percentileWUdf = udf { (pairs: Seq[org.apache.spark.sql.Row], frac: Double) =>
    if (pairs == null || pairs.isEmpty) null.asInstanceOf[java.lang.Double]
    else {
      var total = 0L
      pairs.foreach(r => total += r.getLong(1))
      val target = math.ceil(frac * total)
      var cum = 0L
      var res: java.lang.Double = null
      val it = pairs.iterator
      while (it.hasNext && res == null) {
        val r = it.next()
        cum += r.getLong(1)
        if (cum >= target) res = r.getDouble(0)
      }
      res
    }
  }

  def percentileW(x: Column, w: Column, frac: Column): Column =
    percentileWUdf(array_sort(collect_list(struct(x.cast("double").as("x"),
      w.cast("long").as("w")))), frac.cast("double"))

  // ------------------------------------------------- unicode codepoints

  /** unicode_codepoints_from_string — deliberate UDF (COVERAGE §2.11):
    * true code-point iteration is a stateful surrogate-pair walk
    * (`String.codePoints`), which `ascii(substring(...))` per UTF-16
    * unit gets wrong off the BMP and costs O(n²) as an expression. */
  private val codepointsFromUdf = udf { (s: String) =>
    if (s == null) null
    else s.codePoints().toArray.map(_.toLong)
  }

  /** unicode_codepoints_to_string's array step — same JDK-bound
    * justification (`Character.toChars` handles surrogates). Null
    * elements or out-of-range/surrogate code points yield null (the
    * invalid-input convention of this registry), never a task error. */
  private val codepointsToUdf = udf { (cps: Seq[java.lang.Long]) =>
    if (cps == null || cps.exists(cp => cp == null ||
        cp != cp.toInt.toLong || !Character.isValidCodePoint(cp.toInt) ||
        (cp <= 0xFFFFL && Character.isSurrogate(cp.toInt.toChar)))) null
    else {
      val sb = new java.lang.StringBuilder
      cps.foreach(cp => sb.appendCodePoint(cp.intValue()))
      sb.toString
    }
  }

  def codepointsFrom(c: Column): Column = codepointsFromUdf(c.cast("string"))
  def codepointsTo(c: Column): Column = codepointsToUdf(c)

  // ------------------------------------------------------------ treepath

  /** treepath(dynamic): enumerate all JSON paths of a dynamic value as
    * KQL renders them (`['a']['b'][0]` bracket form). Deliberate UDF: a
    * recursive tree walk over arbitrary JSON has no Column/HOF
    * formulation; parsing uses Spark's own shipped Jackson. */
  // shared mapper: construction is the expensive part of Jackson and
  // readTree is thread-safe
  private lazy val treepathMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val treepathFn = udf { (s: String) =>
    if (s == null) null
    else {
      val mapper = treepathMapper
      val out = scala.collection.mutable.ArrayBuffer[String]()
      def walk(node: com.fasterxml.jackson.databind.JsonNode, path: String): Unit = {
        if (node.isObject) {
          val it = node.fields()
          while (it.hasNext) {
            val e = it.next()
            val p = s"$path['${e.getKey}']"
            out += p
            walk(e.getValue, p)
          }
        } else if (node.isArray) {
          var i = 0
          while (i < node.size()) {
            val p = s"$path[$i]"
            out += p
            walk(node.get(i), p)
            i += 1
          }
        }
      }
      try { walk(mapper.readTree(s), ""); out.toArray }
      catch { case _: Exception => null }
    }
  }

  def treepathUdf(c: Column): Column = treepathFn(c)

  // ------------------------------------------- unit conversion (convert_*)

  private def unitConvert(units: Map[String, Double])(
      v: Column, from: Column, to: Column): Column = {
    val m = map(units.toSeq.flatMap { case (k, f) => Seq(lit(k), lit(f)) }: _*)
    // unknown unit names yield null (map miss), KQL raises — documented
    v.cast("double") * element_at(m, from) / element_at(m, to)
  }

  private val Pi = math.Pi
  private val angleUnits = Map(
    "Radian" -> 1.0, "Degree" -> Pi / 180, "Gradian" -> Pi / 200,
    "Revolution" -> 2 * Pi, "Arcminute" -> Pi / 10800,
    "Arcsecond" -> Pi / 648000, "Milliradian" -> 1e-3,
    "Centiradian" -> 1e-2, "Deciradian" -> 1e-1, "Microradian" -> 1e-6,
    "Nanoradian" -> 1e-9, "Microdegree" -> Pi / 180 * 1e-6,
    "Millidegree" -> Pi / 180 * 1e-3, "NatoMil" -> 2 * Pi / 6400)
  private val lengthUnits = Map(
    "Kilometer" -> 1000.0, "Hectometer" -> 100.0, "Decameter" -> 10.0,
    "Meter" -> 1.0, "Decimeter" -> 0.1, "Centimeter" -> 0.01,
    "Millimeter" -> 1e-3, "Micrometer" -> 1e-6, "Nanometer" -> 1e-9,
    "Mile" -> 1609.344, "Yard" -> 0.9144, "Foot" -> 0.3048,
    "Inch" -> 0.0254, "NauticalMile" -> 1852.0, "Mil" -> 2.54e-5)
  private val massUnits = Map(
    "Kilogram" -> 1.0, "Gram" -> 1e-3, "Milligram" -> 1e-6,
    "Microgram" -> 1e-9, "Tonne" -> 1000.0, "Pound" -> 0.45359237,
    "Ounce" -> 0.028349523125, "Stone" -> 6.35029318,
    "Grain" -> 6.479891e-5)
  private val speedUnits = Map(
    "MeterPerSecond" -> 1.0, "KilometerPerHour" -> (1 / 3.6),
    "MilePerHour" -> 0.44704, "Knot" -> (1852.0 / 3600),
    "FootPerSecond" -> 0.3048, "CentimeterPerSecond" -> 0.01)
  private val volumeUnits = Map(
    "CubicMeter" -> 1.0, "Liter" -> 1e-3, "Milliliter" -> 1e-6,
    "CubicCentimeter" -> 1e-6, "CubicFoot" -> 0.028316846592,
    "CubicInch" -> 1.6387064e-5, "UsGallon" -> 0.003785411784,
    "ImperialGallon" -> 0.00454609)
  private val energyUnits = Map(
    "Joule" -> 1.0, "Kilojoule" -> 1e3, "Megajoule" -> 1e6,
    "Calorie" -> 4.184, "Kilocalorie" -> 4184.0, "WattHour" -> 3600.0,
    "KilowattHour" -> 3.6e6, "BritishThermalUnit" -> 1055.05585262,
    "ElectronVolt" -> 1.602176634e-19)

  def convertAngle(v: Column, from: Column, to: Column): Column =
    unitConvert(angleUnits)(v, from, to)
  def convertLength(v: Column, from: Column, to: Column): Column =
    unitConvert(lengthUnits)(v, from, to)
  def convertMass(v: Column, from: Column, to: Column): Column =
    unitConvert(massUnits)(v, from, to)
  def convertSpeed(v: Column, from: Column, to: Column): Column =
    unitConvert(speedUnits)(v, from, to)
  def convertVolume(v: Column, from: Column, to: Column): Column =
    unitConvert(volumeUnits)(v, from, to)
  def convertEnergy(v: Column, from: Column, to: Column): Column =
    unitConvert(energyUnits)(v, from, to)

  /** Temperature is affine, not multiplicative: v → Kelvin via
    * K = v·s + o, then back out of Kelvin for the target unit. */
  def convertTemperature(v: Column, from: Column, to: Column): Column = {
    val scale = Map("Kelvin" -> 1.0, "DegreeCelsius" -> 1.0,
      "DegreeFahrenheit" -> (5.0 / 9.0), "DegreeRankine" -> (5.0 / 9.0))
    val offset = Map("Kelvin" -> 0.0, "DegreeCelsius" -> 273.15,
      "DegreeFahrenheit" -> (459.67 * 5.0 / 9.0), "DegreeRankine" -> 0.0)
    def m(u: Map[String, Double], c: Column) = element_at(
      map(u.toSeq.flatMap { case (k, f) => Seq(lit(k), lit(f)) }: _*), c)
    val kelvin = v.cast("double") * m(scale, from) + m(offset, from)
    (kelvin - m(offset, to)) / m(scale, to)
  }
}
