package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, RegistryBridge}

/** eKuiper-named SQL functions for the rules engine (SURVEY §3): a
  * user's eKuiper rule SQL runs unchanged where the name or semantics
  * differ from Spark's. Each registration is an Expression *builder*
  * composing Catalyst built-ins (or graft's custom codegen
  * expressions) — never a UDF — so registered functions inline into
  * whole-stage codegen exactly like natives.
  *
  * Names that already exist in Spark with identical semantics (abs,
  * concat, lower, md5, conv, …) are not re-registered. Reference
  * inventory: internal/binder/function/funcs_{math,str,misc,obj,
  * array}.go.
  */
object GraftFunctions {

  /** A SQL function body: argument expressions → its expression. */
  type Builder = Seq[Expression] => Expression

  private def lift(f: Seq[Column] => Column): Builder =
    args => ColumnBridge.expression(f(args.map(ColumnBridge.column)))

  /** name → column composition. */
  val builders: Map[String, Seq[Column] => Column] = Map(
    // ---- math / bits (funcs_math.go) ----
    "bitand" -> { a => a(0).bitwiseAND(a(1)) },
    "bitor" -> { a => a(0).bitwiseOR(a(1)) },
    "bitxor" -> { a => a(0).bitwiseXOR(a(1)) },
    "bitnot" -> { a => bitwise_not(a(0)) },
    "dec2hex" -> { a => hex(a(0).cast("long")) },
    "hex2dec" -> { a => conv(a(0), 16, 10).cast("long") },
    // trunc(x, d): round toward zero to d places (shadows Spark's
    // date-trunc inside rule sessions; eKuiper semantics win here)
    "trunc" -> { a =>
      val scale = pow(lit(10.0), a(1).cast("double"))
      (floor(abs(a(0)) * scale) / scale) * signum(a(0)) },

    // ---- string (funcs_str.go) ----
    "indexof" -> { a => instr(a(0), a(1)).cast("long") - 1 }, // 0-based, -1 missing
    "numbytes" -> { a => octet_length(a(0)).cast("long") },
    "split_value" -> { a => element_at(split(a(0), a(1)), a(2).cast("int") + 1) },
    "regexp_matches" -> { a => regexp_like(a(0), a(1)) },
    "regexp_substring" -> { a => regexp_extract(a(0), fmtLiteral(a(1)), 0) },

    // ---- datetime (funcs_datetime.go) ----
    "format_time" -> { a => date_format(a(0), GraftFunctions.fmtLiteral(a(1))) },
    "from_unix_time" -> { a => from_unixtime(a(0)) },
    "convert_tz" -> { a => convert_timezone(lit("UTC"), a(1), a(0)) },
    // to_seconds(t): Unix seconds (funcs_misc.go:124)
    "to_seconds" -> { a => a(0).cast("timestamp").cast("long") },
    // date_calc(t, "±goDuration"): t shifted by a signed Go-style
    // duration literal ("1h30m", "-20m"), rendered
    // "yyyy-MM-dd HH:mm:ss" like the reference (funcs_datetime.go:87)
    "date_calc" -> { a =>
      val deltaUs = GraftFunctions.goDurationMicros(GraftFunctions.fmtLiteral(a(1)))
      date_format(
        timestamp_micros(unix_micros(a(0).cast("timestamp")) + lit(deltaUs)),
        "yyyy-MM-dd HH:mm:ss") },
    // array_map(funcName, arr): apply a named scalar function to every
    // element (funcs_array.go:504). The name is a literal, so it
    // resolves at plan time — to a graft builder if registered, else a
    // Spark native — and the inner expression is ordinary Catalyst.
    "array_map" -> { a =>
      val fname = GraftFunctions.fmtLiteral(a(0))
      GraftFunctions.builders.get(fname) match {
        case Some(b) => transform(a(1), x => b(Seq(x)))
        case None => transform(a(1), x => call_function(fname, x))
      } },

    // ---- json (funcs_misc.go json_path_*) ----
    "json_path_query" -> { a => get_json_object(a(0), GraftFunctions.fmtLiteral(a(1))) },
    "json_path_query_first" -> { a =>
      get_json_object(a(0), GraftFunctions.fmtLiteral(a(1)) + "[0]") },
    "json_path_exists" -> { a =>
      val path = GraftFunctions.fmtLiteral(a(1))
      // top-level "$.k" → real key-presence via json_object_keys
      // (missing ≠ null-valued); deeper paths → value probe
      if (path.matches("""\$\.[A-Za-z0-9_]+"""))
        array_contains(json_object_keys(a(0)), path.stripPrefix("$."))
      else get_json_object(a(0), path).isNotNull },

    // ---- object (funcs_obj.go) ----
    "object" -> { a => map_from_arrays(a(0), a(1)) },
    "zip" -> { a => map_from_entries(a(0)) },
    "items" -> { a => map_entries(a(0)) },
    "object_construct" -> { a =>
      // (k1, v1, k2, v2, ...) dropping null values (funcs_obj.go:191)
      val pairs = a.grouped(2).toSeq
      map_from_entries(filter(
        array(pairs.map(p => struct(p(0).as("key"), p(1).as("value"))): _*),
        e => e.getField("value").isNotNull)) },
    "object_concat" -> { a =>
      // last-wins merge without relying on the session map-dedup policy
      val allKeys = array_distinct(flatten(array(a.map(map_keys): _*)))
      map_from_entries(transform(allKeys, k =>
        struct(k.as("key"),
          coalesce(a.reverse.map(m => try_element_at(m, k)): _*).as("value")))) },
    "object_pick" -> { a =>
      map_filter(a(0), (k, _) => array_contains(array(a.drop(1): _*), k)) },
    "erase" -> { a =>
      map_filter(a(0), (k, _) => !array_contains(array(a.drop(1): _*), k)) },
    "obj_to_kvpair_array" -> { a =>
      transform(map_entries(a(0)), e =>
        struct(e.getField("key").as("key"), e.getField("value").as("value"))) },
    "kvpair_array_to_obj" -> { a => map_from_entries(a(0)) },

    // ---- transform (funcs_misc.go) ----
    "compress" -> { a => CompressionFunctions.compress(a(0), fmtLiteral(a(1))) },
    "decompress" -> { a => CompressionFunctions.decompress(a(0), fmtLiteral(a(1))) },

    // ---- array renames (funcs_array.go) ----
    "array_cardinality" -> { a => size(a(0)).cast("long") },
    "array_create" -> { a => array(a: _*) },
    "array_concat" -> { a => concat(a: _*) },
    "array_flatten" -> { a => flatten(a(0)) },
    "array_contains_any" -> { a => arrays_overlap(a(0), a(1)) },
    "array_shuffle" -> { a => shuffle(a(0)) },
    // 0-based index of the last occurrence, -1 when absent
    "array_last_position" -> { a =>
      when(array_position(reverse(a(0)), a(1)) === 0, lit(-1L))
        .otherwise(size(a(0)) - array_position(reverse(a(0)), a(1))) },

    // ---- datetime renames (funcs_datetime.go) ----
    "cur_date" -> { _ => current_date() },
    "cur_time" -> { _ => date_format(current_timestamp(), "HH:mm:ss") },
    "local_time" -> { _ => date_format(localtimestamp(), "HH:mm:ss") },
    "local_timestamp" -> { _ => localtimestamp() },
    "day_of_month" -> { a => dayofmonth(a(0)).cast("long") },
    "day_of_week" -> { a => dayofweek(a(0)).cast("long") },
    "day_of_year" -> { a => dayofyear(a(0)).cast("long") },
    "day_name" -> { a => date_format(a(0), "EEEE") },
    "month_name" -> { a => date_format(a(0), "MMMM") },
    "microsecond" -> { a => (unix_micros(a(0)) % 1000000L) },
    "date_diff" -> { a => datediff(a(0), a(1)).cast("long") },
    "from_days" -> { a => date_from_unix_date((a(0) - 719528).cast("int")) },

    // ---- string renames (funcs_str.go) ----
    "format" -> { a => format_string(fmtLiteral(a(0)), a.drop(1): _*) },
    "regexp_substr" -> { a => regexp_extract(a(0), fmtLiteral(a(1)), 0) },

    // ---- hash/stat renames ----
    "sha256" -> { a => sha2(a(0).cast("binary"), 256) },
    "sha384" -> { a => sha2(a(0).cast("binary"), 384) },
    "sha512" -> { a => sha2(a(0).cast("binary"), 512) },
    "stddevs" -> { a => stddev_pop(a(0)) },
    "var" -> { a => var_samp(a(0)) },
    "vars" -> { a => var_pop(a(0)) },
    "percentile_cont" -> { a => percentile(a(0), a(1)) },
    "percentile_disc" -> { a => percentile_approx(a(0), a(1), lit(1000000)) },
    "collect" -> { a => collect_list(a(0)) },

    // ---- object renames (funcs_obj.go) ----
    "keys" -> { a => map_keys(a(0)) },
    "values" -> { a => map_values(a(0)) },
    "object_size" -> { a => size(a(0)).cast("long") },

    // ---- misc / runtime ----
    "newuuid" -> { _ => uuid() },
    "tstamp" -> { _ => unix_millis(current_timestamp()) },
    "cardinality" -> { a => size(a(0)).cast("long") },
    // bypass(x): identity — the reference's no-op placeholder
    // (funcs_misc.go:48)
    "bypass" -> { a => a(0) },
    // props(key): deployment config property, bound at plan time like
    // the other rule-context values; NULL when unset (funcs_misc.go:60)
    "props" -> { a => lit(ConfProps.get(fmtLiteral(a(0))).orNull).cast("string") },

    // ---- aggregate extensions (funcs_agg.go) ----
    // merge_agg(m): merge the group's objects, last write per key wins
    // in arrival order (funcs_agg.go:154). collect_list preserves
    // encounter order; groups are per-window/per-key small, so the
    // per-key scan is bounded — and the whole thing stays one
    // partial-agg-friendly aggregation, no conf-dependent map dedup.
    "merge_agg" -> { a =>
      val entries = reverse(flatten(transform(collect_list(a(0)), m => map_entries(m))))
      // first per key of the REVERSED entries = last write overall
      map_from_entries(transform(
        array_distinct(transform(entries, e => e.getField("key"))),
        k => struct(
          k.as("key"),
          element_at(filter(entries, e => e.getField("key") === k), 1)
            .getField("value").as("value")))) },
    // deduplicate(col, all): the group's rows at the FIRST occurrence
    // of each col value (funcs_agg.go:176, common_array_funcs.go:249);
    // all=false keeps only the group's last row and only when its key
    // is new. struct(*) captures the whole message like the
    // reference's implicit all-messages argument.
    "deduplicate" -> { a =>
      val es = collect_list(struct(a(0).cast("string").as("k"), struct(col("*")).as("m")))
      if (fmtLiteral(a(1)).toBoolean)
        transform(
          array_distinct(transform(es, e => e.getField("k"))),
          k => element_at(filter(es, e => e.getField("k") === k), 1).getField("m"))
      else
        when(
          array_position(transform(es, e => e.getField("k")),
            element_at(es, -1).getField("k")) === size(es),
          element_at(es, -1).getField("m")) },

    // ---- geohash plugin pack (extensions/functions/geohash/geohash.go;
    // names exactly as its plugin json registers them) ----
    "geohashEncode" -> { a => GeoFunctions.geohash_encode(a(0), a(1)) },
    "geohashEncodeInt" -> { a => GeoFunctions.geohash_encode_int(a(0), a(1)) },
    "geohashDecode" -> { a => GeoFunctions.geohash_decode(a(0)) },
    "geohashDecodeInt" -> { a => GeoFunctions.geohash_decode_int(a(0)) },
    "geohashBoundingBox" -> { a => GeoFunctions.geohash_bbox(a(0)) },
    "geohashBoundingBoxInt" -> { a => GeoFunctions.geohash_bbox_int(a(0)) },
    "geohashNeighbor" -> { a => GeoFunctions.geohash_neighbor(a(0), a(1)) },
    "geohashNeighborInt" -> { a => GeoFunctions.geohash_neighbor_int(a(0), a(1)) },
    "geohashNeighbors" -> { a => GeoFunctions.geohash_neighbors(a(0)) },
    "geohashNeighborsInt" -> { a => GeoFunctions.geohash_neighbors_int(a(0)) },

    // ---- image plugin pack (extensions/functions/image) ----
    "resize" -> { a =>
      val raw = a.length > 3 && fmtLiteral(a(3)).toBoolean
      ImageFunctions.resize(a(0), a(1), a(2), raw) },
    "thumbnail" -> { a => ImageFunctions.thumbnail(a(0), a(1), a(2)) },

    // ---- sample plugin functions (extensions/functions/{echo,countPlusOne}) ----
    "echo" -> { a => a(0) },
    "countPlusOne" -> { a => count(a(0)) + lit(1L) },

    // ---- graft custom codegen expressions, SQL-reachable ----
    "minhash_sig" -> { a => TextHashFunctions.minhash_sig(a(0),
      fmtLiteral(a(1)).toInt, fmtLiteral(a(2)).toInt) },
    "simhash64" -> { a => TextHashFunctions.simhash64(a(0)) },
    "shingle_hashes" -> { a => TextHashFunctions.shingle_hashes(a(0), fmtLiteral(a(1)).toInt) },
    "doc_fingerprint" -> { a => TextHashFunctions.doc_fingerprint(a(0), fmtLiteral(a(1)).toInt) },

    // ---- corpus-hygiene pack, SQL-reachable (streaming rules can
    // gate/redact/score arriving documents with the same Columns the
    // batch pipeline runs; every one is a map-only projection) ----
    "lang_id" -> { a => TextHashFunctions.lang_id(a(0)) },
    "quality_score" -> { a => graft.operators.TextOps.qualityScore(a(0)) },
    "gopher_keep" -> { a => graft.operators.TextOps.gopherKeep(a(0)) },
    "pii_redact" -> { a => graft.operators.TextOps.piiRedact(a(0)) },
    "dup_line_frac" -> { a => graft.operators.TextOps.dupLineFrac(a(0)) },
    "token_count" -> { a => graft.operators.TextOps.tokenCount(a(0)) },
    "bpe_token_count" -> { a => graft.operators.TextOps.bpeTokenCount(a(0)) },
    "sampling_bucket" -> { a => graft.operators.TextOps.samplingBucket(a(0)) },
    "url_domain" -> { a => graft.operators.TextOps.urlDomain(a(0)) },
    "stopword_ratio" -> { a =>
      if (a.length > 1) graft.operators.TextOps.stopwordRatio(a(0), fmtLiteral(a(1)))
      else graft.operators.TextOps.stopwordRatio(a(0)) },
    // merge list as a literal: rank-ordered pairs "l r;lr x;..."
    // (symbols may not contain space or ';' — BPE symbols never do,
    // they derive from whitespace-split tokens)
    "bpe_encode" -> { a =>
      val merges = fmtLiteral(a(1)).split(";").toSeq.filter(_.nonEmpty).map { p =>
        p.split(" ") match {
          case Array(l, r) => (l, r)
          case _ => throw new IllegalArgumentException(
            s"bpe_encode merge entry must be 'left right': '$p'")
        }
      }
      BpeFunctions.bpe_encode(a(0), merges) }
  )

  /** Go-style duration literal ("1h30m", "-20m", "1.5s") → micros.
    * The reference's time.ParseDuration keeps nanosecond precision;
    * Spark timestamps carry microseconds, so micros (not millis) is the
    * finest representable shift — '500us' and '1.5ms' stay exact, and
    * only sub-microsecond residue truncates.
    */
  private[functions] def goDurationMicros(s0: String): Long = {
    val (sign, s) =
      if (s0.startsWith("-")) (-1L, s0.drop(1))
      else if (s0.startsWith("+")) (1L, s0.drop(1)) else (1L, s0)
    val unitNs = Map("ns" -> 1L, "us" -> 1000L, "ms" -> 1000000L,
      "s" -> 1000000000L, "m" -> 60000000000L, "h" -> 3600000000000L)
    val re = """(\d+(?:\.\d+)?)(ns|us|ms|s|m|h)""".r
    val parts = re.findAllMatchIn(s).toList
    require(parts.nonEmpty && parts.map(_.matched).mkString == s,
      s"invalid duration '$s0' (expected Go-style, e.g. 1h30m, -20m)")
    val ns = parts.map(m => (m.group(1).toDouble * unitNs(m.group(2))).toLong).sum
    sign * ns / 1000L
  }

  /** Extract a string literal argument (format names, paths, zones). */
  private[functions] def fmtLiteral(c: Column): String =
    ColumnBridge.expression(c) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => String.valueOf(v)
      case other => throw new IllegalArgumentException(
        s"argument must be a literal, got $other")
    }

  /** eKuiper's meta() (funcs_misc.go:489): event metadata lookup.
    * Sources publish a `__meta` map column (ConnectorSource with
    * meta="true"); `meta(topic)` reads it. The key may be an eKuiper
    * bare identifier (meta(topic)) or a string literal (meta('topic'))
    * — a bare identifier is captured pre-analysis and treated as the
    * key name, exactly the reference's parse rule. meta() with no args
    * returns the whole map.
    */
  private def metaBuilder(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.Literal
    val metaCol = ColumnBridge.column(UnresolvedAttribute("__meta"))
    args match {
      case Seq() => ColumnBridge.expression(metaCol)
      case Seq(k) =>
        val key = k match {
          case a: UnresolvedAttribute => ColumnBridge.column(Literal(a.name))
          case other => ColumnBridge.column(other)
        }
        ColumnBridge.expression(try_element_at(metaCol, key))
      case _ => throw new IllegalArgumentException("meta() takes zero or one argument")
    }
  }

  /** Every rule-SQL function, name → Expression builder: the codegen
    * [[builders]] table plus the specially-built forms. The one list
    * [[registerAll]], `graft.GraftExtensions` and
    * `rules.Metadata.functionNames` read.
    */
  val registrations: Seq[(String, Builder)] =
    builders.toSeq.map { case (name, f) => (name, lift(f)) } ++ Seq[(String, Builder)](
      ("meta", metaBuilder),
      ("get_keyed_state", args => GetKeyedStateExpr(args)),
      ("accumulateWordCount", args => AccumulateWordCountExpr(args)),
      ("delay", args => DelayExpr(args)),
      ("normalize_text", args => NormalizeTextExpr(args.head)),
      // keyword_tag(text, 'p1;p2;...'): Aho-Corasick multi-pattern tag;
      // the pattern list must be a literal (it builds the automaton)
      ("keyword_tag", {
        case Seq(t, org.apache.spark.sql.catalyst.expressions.Literal(pats, _)) =>
          val list = pats.toString.split(';').map(_.trim).filter(_.nonEmpty).toSeq
          AcTagExpr(t, new AcAutomaton(list))
        case _ => throw new IllegalArgumentException(
          "keyword_tag(text, 'p1;p2;...') — patterns must be a string literal")
      })) ++ sketchBuilders

  /** Register every eKuiper-named function on the session. Idempotent;
    * RuleEngine calls this so rule SQL has the full surface.
    */
  def registerAll(spark: SparkSession): Unit =
    registrations.foreach { case (name, b) => RegistryBridge.register(spark, name, b) }

  /** The sketch aggregates as rule-SQL names, each one builder over a
    * Spark built-in (the analyzer resolves the aggregate inside it).
    * Shape parameters must be literals: they size executor state, so
    * a per-row value would be meaningless.
    *  - `hll_distinct(x[, p])`: [[hllDistinct]], p = 14 by default.
    *  - `tdigest_quantiles(x, a, q1[, q2, ...])`: `percentile_approx`
    *    of x as a double at accuracy a, so the rank error is at most
    *    1/a. Not KLL: datasketches' KLL compacts with an unseeded
    *    random source, so its answer changes from run to run, while
    *    Greenwald-Khanna is deterministic for a fixed input order.
    *  - `topk_sketch(x, cap, k)`: [[topkSketch]].
    */
  private def sketchBuilders: Seq[(String, Builder)] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.NumericType
    // SQL numeric literals arrive as int/bigint/decimal/double
    // depending on how they're written — accept any NumericType
    def litDouble(e: Expression, what: String): Double = e match {
      case Literal(v: org.apache.spark.sql.types.Decimal, _: NumericType) => v.toDouble
      case Literal(v: Number, _: NumericType) => v.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a numeric literal, got $other")
    }
    def litInt(e: Expression, what: String): Int = litDouble(e, what).toInt
    def hll(e: Expression, p: Int): Expression =
      ColumnBridge.expression(hllDistinct(ColumnBridge.column(e), p))
    Seq[(String, Builder)](
      ("hll_distinct", {
        case Seq(e) => hll(e, 14)
        case Seq(e, p) => hll(e, litInt(p, "precision"))
        case _ => throw new IllegalArgumentException("hll_distinct(col[, precision])")
      }),
      ("tdigest_quantiles", {
        case e +: acc +: qs if qs.nonEmpty => ColumnBridge.expression(percentile_approx(
          ColumnBridge.column(e).cast("double"),
          array(qs.map(q => lit(litDouble(q, "quantile"))): _*),
          lit(litInt(acc, "accuracy"))))
        case _ => throw new IllegalArgumentException(
          "tdigest_quantiles(col, accuracy, q1[, q2, ...])")
      }),
      ("topk_sketch", {
        case Seq(e, cap, k) => ColumnBridge.expression(topkSketch(
          ColumnBridge.column(e), litInt(cap, "capacity"), litInt(k, "k")))
        case _ => throw new IllegalArgumentException("topk_sketch(col, capacity, k)")
      }))
  }

  /** Estimated number of distinct non-NULL values of `x`, which may be
    * of any type, through Spark's HLL sketch (datasketches) at lgConfigK
    * `precision`: relative standard error about 1.04/sqrt(2^precision),
    * near-exact while a group holds at most about 1.5k distinct values.
    * `precision` outside [4, 21] fails with HLL_INVALID_LG_K.
    */
  def hllDistinct(x: Column, precision: Int = 14): Column = {
    // hll_sketch_agg takes only INT, BIGINT, STRING or BINARY, so hash
    // any type to BIGINT first (xxhash64 equates -0.0 and 0.0, as
    // count(DISTINCT) does); xxhash64(NULL) is its seed, not NULL
    val sketch = hll_sketch_agg(when(x.isNotNull, xxhash64(x)), precision)
    // one sketch would read the HIP estimator, which depends on the
    // order rows arrive in, so the estimate would change with the
    // number of partials unioned; a union reads the composite
    // estimator, a function of the registers alone
    hll_sketch_estimate(hll_union(sketch, sketch))
  }

  /** The `k` most frequent non-NULL values of `item`, as
    * array<struct<item: string, count: bigint>> ordered by count desc,
    * then item asc. Spark's `approx_top_k` (a datasketches ItemsSketch
    * sized for `capacity` items) returns tied counts in arbitrary
    * order, so all `capacity` of its items are sorted before the cut
    * to `k`. Counts are exact while a group has at most `capacity`
    * distinct values.
    */
  def topkSketch(item: Column, capacity: Int, k: Int): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, Literal}
    val x = ColumnBridge.expression(item.cast("string"))
    // FILTER (WHERE x IS NOT NULL): approx_top_k counts NULL as an item
    val top = ColumnBridge.column(UnresolvedFunction(Seq("approx_top_k"),
      Seq(x, Literal(capacity), Literal(capacity)), isDistinct = false,
      filter = Some(IsNotNull(x))))
    slice(array_sort(top, (a, b) =>
      when(a("count") > b("count"), -1).when(a("count") < b("count"), 1)
        .when(a("item") < b("item"), -1).when(a("item") > b("item"), 1)
        .otherwise(0)), 1, k)
  }
}
