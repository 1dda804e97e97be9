package graft.ingest

import graft.ingest.PromRemoteCodec.IngestedSample

/** OTLP metrics ingest — the OpenTelemetry protobuf wire format
  * Prometheus 3.x accepts on /api/v1/otlp/v1/metrics (public
  * opentelemetry-proto field numbers; no OTel SDK involved, the same
  * hand-rolled [[ProtoWire]] reader the prompb codec uses).
  *
  * Message shapes: Gauge and CUMULATIVE Sum number points land as
  * float samples; CUMULATIVE explicit-bounds Histogram points land
  * as classic `_bucket`/`_sum`/`_count` series (the bounds ARE
  * classic le values — cumulative counts per bound, the `count`
  * field at le="+Inf", `sum` only when explicitly present);
  * exponential-histogram points convert through the shared
  * NativeHistogram classic expansion; Summary points convert to
  * quantile-labeled series + `_sum`/`_count` (the Prometheus
  * receiver's mapping). Unconvertible points (unsupported exp-hist
  * scales, malformed summaries) are skipped field-safe and COUNTED
  * via `otlp_dropped_points_total`:
  *   ExportMetricsServiceRequest {1: resource_metrics*}
  *   ResourceMetrics  {1: resource, 2: scope_metrics*}
  *   Resource         {1: attributes* (KeyValue)}
  *   ScopeMetrics     {2: metrics*}
  *   Metric           {1: name, 5: gauge, 7: sum,
  *                     9: histogram, 10: exp_histogram, 11: summary}
  *   Sum              {1: data_points*, 2: aggregation_temporality,
  *                     3: is_monotonic}
  *   Histogram        {1: data_points*, 2: aggregation_temporality}
  *   NumberDataPoint  {2: start fixed64 ns, 3: time fixed64 ns,
  *                     4: as_double, 6: as_int sfixed64,
  *                     7: attributes*}
  *   HistogramDataPoint {3: time ns, 4: count fixed64, 5: sum,
  *                     6: bucket_counts*, 7: explicit_bounds*,
  *                     9: attributes*}
  *   KeyValue         {1: key, 2: AnyValue}
  *   AnyValue         {1: string | 2: bool | 3: int | 4: double}
  *
  * Sum temporality (the silent-corruption guard): a Sum's
  * `aggregation_temporality` MUST be CUMULATIVE (2). Delta sums
  * stored as-if-cumulative would make every downstream `rate()` /
  * `increase()` read per-interval increments as counter levels —
  * numbers that look plausible and are wrong. Prometheus's OTLP
  * receiver rejects delta by default (conversion is behind a
  * feature flag); this receiver does the same, loudly: the whole
  * request fails with a wire-format error the HTTP layer answers as
  * a client error. The same guard covers Histogram temporality
  * (delta bucket counts would corrupt classic cumulative series
  * identically); under the same conversion flag, delta histograms
  * convert too — explicit-bounds points by element-wise per-bucket
  * prefix sums (a bounds change resets the run), exponential points
  * by the sparse align+add running sum — matching the upstream
  * deltatocumulative processor. UNSPECIFIED (0) is equally rejected — the spec
  * calls it invalid on the wire. `is_monotonic` is read but carries
  * no behavior: the store has no metric-type metadata, so monotonic
  * and non-monotonic cumulative sums land identically (documented
  * deviation — Prometheus would suffix monotonic sums `_total`).
  *
  * Name mapping: metric names and attribute keys pass through the
  * documented Prometheus OTLP translation — every char outside
  * [a-zA-Z0-9_:] ([a-zA-Z0-9_] for label keys) becomes '_', a
  * leading digit gets a '_' prefix — so dotted OTel names
  * (`http.server.duration`) are reachable by PromQL selectors,
  * whose ident grammar has no '.'. The full otlptranslator's
  * unit/type suffixing (`_seconds`, `_total`) is NOT applied: the
  * store keeps the sender's name stem verbatim (documented).
  *
  * Label mapping follows the documented Prometheus OTLP receiver
  * convention: resource attribute `service.name` → `job`,
  * `service.instance.id` → `instance`; the REMAINING resource
  * attributes become a `target_info` series (value 1, identifying
  * labels + data labels, one sample per ResourceMetrics at its
  * latest point timestamp) — the info-metric shape PromQL's `info()`
  * joins against; data-point attributes map to labels directly with
  * scalar AnyValues rendered to strings (int/bool/double via the
  * same decimal text both engines print). Timestamps truncate
  * ns → µs, the store's resolution. */
object OtlpCodec {

  /** A decode plus its skip ledger: `droppedPoints` counts histogram
    * / exponential-histogram / summary data points the float64 store
    * cannot hold — skipped field-safe, but never silently (the
    * serving layer feeds the count into `/metrics`). `metadata`
    * carries one sibling-store row per metric (type from the data
    * arm, help = OTLP description, unit verbatim) in the same
    * "__help=/__type=/__unit=" label encoding PromRemoteCodec
    * .toMetadataRows uses, so both write paths land one store. */
  final case class Decoded(samples: Seq[IngestedSample], droppedPoints: Long,
                           metadata: Seq[IngestedSample] = Nil,
                           /** Exponential-histogram points as NATIVE
                             * prompb Histogram rows for the sibling
                             * hist store — Prometheus's OTLP receiver
                             * converts them to native histograms, so
                             * they federate back on both response
                             * types like PRW-delivered natives. */
                           hists: Seq[(Long, String, Seq[String], Array[Byte])] = Nil)

  /** application/x-protobuf body → flat ingested samples (legacy
    * shape — drops uncounted; servers use [[decodeExportMetricsCounted]]). */
  def decodeExportMetrics(body: Array[Byte]): Seq[IngestedSample] =
    decodeExportMetricsCounted(body).samples

  /** application/x-protobuf body → samples + dropped-point count.
    * `convertDelta` opts into DELTA-temporality Sum conversion
    * (Prometheus 3.x's otlp-deltatocumulative switch): a delta Sum's
    * points accumulate into cumulative levels per series WITHIN this
    * request, in timestamp order — the stateless receiver's exact
    * conversion when a sender ships a series' deltas batched (the
    * OTLP SDK shape). Cross-request accumulation would need durable
    * receiver state and is deliberately out of scope (documented).
    * The flag converts delta HISTOGRAMS the same way: explicit
    * bounds accumulate element-wise per bucket (layout change =
    * reset), exponential points fold through the sparse align+add
    * arithmetic — within-request, like the sums. */
  def decodeExportMetricsCounted(body: Array[Byte],
                                 convertDelta: Boolean = false,
                                 translationSuffixes: Boolean = false,
                                 promoteScope: Boolean = false): Decoded = {
    val st = new DecodeState
    st.convertDelta = convertDelta
    st.translationSuffixes = translationSuffixes
    st.promoteScope = promoteScope
    val r = ProtoWire.reader(body)
    while (r.hasMore) {
      val (f, w) = r.readTag()
      if (f == 1 && w == 2) readResourceMetrics(r.readMessage(), st)
      else r.skip(w)
    }
    Decoded(st.out.result(), st.dropped, st.meta.result(), st.hists.result())
  }

  private final class DecodeState {
    val out = Seq.newBuilder[IngestedSample]
    /** Metadata-store rows, one per decoded Metric message. */
    val meta = Seq.newBuilder[IngestedSample]
    /** Native-histogram sibling rows (exp-histogram points). */
    val hists = Seq.newBuilder[(Long, String, Seq[String], Array[Byte])]
    var dropped = 0L
    var convertDelta = false
    var translationSuffixes = false
    var promoteScope = false
    /** Latest point timestamp inside the CURRENT ScopeMetrics — what
      * its otel_scope_info sample rides on (reset per scope). */
    var scopeMaxTsUs = Long.MinValue
    /** Latest point timestamp seen inside the CURRENT ResourceMetrics
      * — the timestamp its target_info sample rides on (reset by
      * [[readResourceMetrics]] per resource). */
    var resourceMaxTsUs = Long.MinValue
    /** Latest point timestamp inside the CURRENT Metric — what its
      * metadata row is stamped with (reset by [[readMetric]]). */
    var metricMaxTsUs = Long.MinValue
    def add(s: IngestedSample): Unit = {
      if (s.ts_us > resourceMaxTsUs) resourceMaxTsUs = s.ts_us
      if (s.ts_us > metricMaxTsUs) metricMaxTsUs = s.ts_us
      if (s.ts_us > scopeMaxTsUs) scopeMaxTsUs = s.ts_us
      out += s
    }
  }

  /** Prometheus OTLP name translation, sans unit/type suffixes:
    * invalid metric-name chars → '_', leading digit prefixed. */
  private[ingest] def normMetricName(s: String): String = {
    val b = s.map(c =>
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '_' || c == ':') c else '_')
    if (b.nonEmpty && b.head >= '0' && b.head <= '9') "_" + b else b
  }

  /** Prometheus otlptranslator unit/type suffixing — the 3.x default
    * `UnderscoreEscapingWithSuffixes` translation strategy's suffix
    * half (the escaping half is [[normMetricName]], always applied).
    * Opt-in via RemoteWrite.otlpTranslationSuffixes; OFF keeps the
    * sender's name stem verbatim (graft's documented default).
    *
    * Public rules (otlptranslator BuildCompliantMetricName):
    * the unit's main part (before '/') maps through the UCUM table
    * (s→seconds, By→bytes, …) or passes through cleaned; the per
    * part appends as `per_<unit>`; unit "1" suffixes `ratio` on
    * GAUGES only; `{annotated}` units carry no suffix; monotonic
    * cumulative sums (counters) end `_total`. Every suffix appends
    * only when its token sequence is not already in the name —
    * `http_seconds` + unit "s" stays, never doubles. */
  private[graft] def suffixedName(norm: String, unit: String,
                                  isCounter: Boolean,
                                  isGauge: Boolean): String = {
    val mainUnits = Map(
      "d" -> "days", "h" -> "hours", "min" -> "minutes", "s" -> "seconds",
      "ms" -> "milliseconds", "us" -> "microseconds", "ns" -> "nanoseconds",
      "By" -> "bytes", "KiBy" -> "kibibytes", "MiBy" -> "mebibytes",
      "GiBy" -> "gibibytes", "TiBy" -> "tibibytes", "KBy" -> "kilobytes",
      "MBy" -> "megabytes", "GBy" -> "gigabytes", "TBy" -> "terabytes",
      "B" -> "bytes", "m" -> "meters", "V" -> "volts", "A" -> "amperes",
      "J" -> "joules", "W" -> "watts", "g" -> "grams", "Cel" -> "celsius",
      "Hz" -> "hertz", "%" -> "percent")
    val perUnits = Map("s" -> "second", "m" -> "minute", "h" -> "hour",
      "d" -> "day", "wk" -> "week", "mo" -> "month", "y" -> "year")
    def hasTokens(name: String, sfx: String): Boolean =
      sfx.nonEmpty && name.split('_').toSeq.containsSlice(sfx.split('_').toSeq)
    def appendSfx(name: String, sfx: String): String =
      if (sfx.isEmpty || hasTokens(name, sfx)) name else s"${name}_$sfx"
    var n = norm
    val trimmed = unit.trim
    if (trimmed.nonEmpty && !trimmed.contains("{")) {
      val slash = trimmed.indexOf('/')
      val (main, per) =
        if (slash < 0) (trimmed, "")
        else (trimmed.take(slash).trim, trimmed.drop(slash + 1).trim)
      val mainSfx =
        if (main == "1") { if (isGauge) "ratio" else "" }
        else if (main.isEmpty) ""
        else mainUnits.getOrElse(main, normLabelKey(main))
      n = appendSfx(n, mainSfx)
      if (per.nonEmpty)
        n = appendSfx(n, "per_" + perUnits.getOrElse(per, normLabelKey(per)))
    }
    if (isCounter) n = appendSfx(n, "total")
    n
  }

  /** Label-key translation: like metric names but ':' is not a legal
    * label-name char either. */
  private[ingest] def normLabelKey(s: String): String = {
    val b = s.map(c =>
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == '_') c else '_')
    if (b.nonEmpty && b.head >= '0' && b.head <= '9') "_" + b else b
  }

  private def readResourceMetrics(r: ProtoWire.Reader, st: DecodeState): Unit = {
    var resourceLabels = List.empty[String]
    var dataLabels = List.empty[String]
    val scopes = Seq.newBuilder[ProtoWire.Reader]
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) =>
          val (ident, data) = readResource(r.readMessage())
          resourceLabels = ident
          dataLabels = data
        case (2, 2) => scopes += r.readMessage()
        case _      => r.skip(w)
      }
    }
    // proto fields arrive in any order: scopes buffer until the
    // resource (with its job/instance mapping) is known
    st.resourceMaxTsUs = Long.MinValue
    scopes.result().foreach(readScopeMetrics(_, resourceLabels, st))
    // the Prometheus receiver convention: a resource carrying
    // NON-identifying attributes lands a `target_info` series —
    // value 1, identifying labels (job/instance) + the remaining
    // resource attributes as data labels, stamped with the latest
    // point timestamp the resource shipped (one info sample per
    // ResourceMetrics; info() joins through the staleness lookback,
    // so per-point stamps would be redundant rows, not more signal)
    if (dataLabels.nonEmpty && st.resourceMaxTsUs != Long.MinValue)
      st.add(IngestedSample(st.resourceMaxTsUs, "target_info",
        (resourceLabels ++ dataLabels).sorted.distinct, 1.0))
  }

  /** Resource attributes split Prometheus-style: (identifying
    * job/instance labels, target_info data labels). Data-label keys
    * pass through [[normLabelKey]] like point attributes. */
  private def readResource(r: ProtoWire.Reader): (List[String], List[String]) = {
    val ls = List.newBuilder[String]
    val data = List.newBuilder[String]
    while (r.hasMore) {
      val (f, w) = r.readTag()
      if (f == 1 && w == 2) {
        val (k, v) = readKeyValue(r.readMessage())
        k match {
          case "service.name"        => ls += s"job=$v"
          case "service.instance.id" => ls += s"instance=$v"
          case _                     => data += s"${normLabelKey(k)}=$v"
        }
      } else r.skip(w)
    }
    (ls.result(), data.result())
  }

  /** One ScopeMetrics. Under `promoteScope` (the Prometheus OTLP
    * receiver's scope-metadata promotion): every metric of the scope
    * gains `otel_scope_name` / `otel_scope_version` labels, and a
    * scope carrying ATTRIBUTES lands an `otel_scope_info` series —
    * value 1, identity = job/instance + the scope name/version
    * labels, data labels = `otel_scope_<attr>` — stamped with the
    * scope's latest point timestamp, exactly the target_info shape
    * one level down (info() joins through the same lookback). Proto
    * fields arrive in any order, so metric messages buffer until the
    * scope is known. */
  private def readScopeMetrics(r: ProtoWire.Reader, resource: List[String],
                               st: DecodeState): Unit = {
    var scopeName = ""; var scopeVersion = ""
    val scopeAttrs = List.newBuilder[String]
    val metrics = Seq.newBuilder[ProtoWire.Reader]
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) if st.promoteScope =>
          val sr = r.readMessage()
          while (sr.hasMore) {
            val (sf, sw) = sr.readTag()
            (sf, sw) match {
              case (1, 2) => scopeName = sr.readString()
              case (2, 2) => scopeVersion = sr.readString()
              case (3, 2) =>
                val (k, v) = readKeyValue(sr.readMessage())
                scopeAttrs += s"otel_scope_${normLabelKey(k)}=$v"
              case _ => sr.skip(sw)
            }
          }
        case (2, 2) => metrics += r.readMessage()
        case _      => r.skip(w)
      }
    }
    val scopeLabels =
      if (!st.promoteScope || scopeName.isEmpty) Nil
      else s"otel_scope_name=$scopeName" ::
        (if (scopeVersion.nonEmpty) List(s"otel_scope_version=$scopeVersion")
         else Nil)
    st.scopeMaxTsUs = Long.MinValue
    metrics.result().foreach(readMetric(_, resource ++ scopeLabels, st))
    val attrs = scopeAttrs.result()
    if (attrs.nonEmpty && scopeLabels.nonEmpty &&
        st.scopeMaxTsUs != Long.MinValue)
      st.add(IngestedSample(st.scopeMaxTsUs, "otel_scope_info",
        (resource ++ scopeLabels ++ attrs).sorted.distinct, 1.0))
  }

  private def readMetric(r: ProtoWire.Reader, resource: List[String],
                         st: DecodeState): Unit = {
    var name = ""
    var description = "" // Metric field 2 → metadata help
    var unit = ""        // Metric field 3 → metadata unit (verbatim)
    var isSum = false
    var hasGauge = false
    var hasSummary = false
    var isMonotonic = false
    var temporality = 0L // AGGREGATION_TEMPORALITY_UNSPECIFIED
    var hasHist = false
    var histTemporality = 0L
    val pointMsgs = Seq.newBuilder[ProtoWire.Reader]
    val histMsgs = Seq.newBuilder[ProtoWire.Reader]
    val expHistMsgs = Seq.newBuilder[ProtoWire.Reader]
    val summaryMsgs = Seq.newBuilder[ProtoWire.Reader]
    def readPoints(g: ProtoWire.Reader): Unit =
      while (g.hasMore) {
        val (gf, gw) = g.readTag()
        (gf, gw) match {
          case (1, 2) => pointMsgs += g.readMessage()
          case (2, 0) if isSum => temporality = g.readVarint()
          case (3, 0) if isSum => isMonotonic = g.readVarint() != 0L
          case _ => g.skip(gw)
        }
      }
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => name = r.readString()
        case (2, 2) => description = r.readString()
        case (3, 2) => unit = r.readString()
        case (5, 2) => hasGauge = true; isSum = false; readPoints(r.readMessage())
        case (7, 2) => isSum = true; readPoints(r.readMessage())
        case (9, 2) =>
          // explicit-bounds histogram: CONVERTS to classic
          // _bucket/_sum/_count series (bounds are already classic
          // le values) — same temporality guard as sums
          hasHist = true
          val g = r.readMessage()
          while (g.hasMore) {
            val (gf, gw) = g.readTag()
            (gf, gw) match {
              case (1, 2) => histMsgs += g.readMessage()
              case (2, 0) => histTemporality = g.readVarint()
              case _ => g.skip(gw)
            }
          }
        case (10, 2) =>
          // exponential histogram: the OTLP twin of the native
          // exponential form — converts through the SAME classic
          // expansion (temporality-guarded below)
          hasHist = true
          val g = r.readMessage()
          while (g.hasMore) {
            val (gf, gw) = g.readTag()
            (gf, gw) match {
              case (1, 2) => expHistMsgs += g.readMessage()
              case (2, 0) => histTemporality = g.readVarint()
              case _ => g.skip(gw)
            }
          }
        case (11, 2) =>
          // summary → classic conversion (the Prometheus receiver's):
          // quantile-labeled series on the base name + _sum/_count.
          // Summary has no temporality field — count/sum are
          // cumulative by definition, quantiles instantaneous.
          val g = r.readMessage()
          hasSummary = true
          while (g.hasMore) {
            val (gf, gw) = g.readTag()
            if (gf == 1 && gw == 2) summaryMsgs += g.readMessage()
            else g.skip(gw)
          }
        case _ => r.skip(w)
      }
    }
    if (name.isEmpty)
      throw new ProtoWire.WireFormatException("OTLP metric without a name")
    // the silent-corruption guard (see the header): delta or
    // unspecified temporality sums never reach the store — unless
    // the delta→cumulative switch is on, which converts DELTA (1)
    // sums explicitly (UNSPECIFIED still rejects: it is invalid on
    // the wire, not a convertible temporality)
    val deltaConvert = isSum && temporality == 1L && st.convertDelta
    if (isSum && temporality != 2L && !deltaConvert)
      throw new ProtoWire.WireFormatException(
        s"OTLP sum '$name' has non-cumulative aggregation_temporality " +
          s"($temporality); only CUMULATIVE (2) is ingestible — " +
          "delta sums stored as counters would corrupt rate()")
    // the histogram twin of the sums' switch (the upstream
    // deltatocumulative processor converts histogram points too):
    // DELTA (1) converts under the flag, UNSPECIFIED still rejects
    val deltaHist = hasHist && histTemporality == 1L && st.convertDelta
    if (hasHist && histTemporality != 2L && !deltaHist)
      throw new ProtoWire.WireFormatException(
        s"OTLP histogram '$name' has non-cumulative " +
          s"aggregation_temporality ($histTemporality); only " +
          "CUMULATIVE (2) is ingestible")
    val mtype0 =
      if (hasHist) "histogram"
      else if (hasSummary) "summary"
      else if (isSum) { if (isMonotonic) "counter" else "gauge" }
      else if (hasGauge) "gauge"
      else "unknown"
    val norm = {
      val base = normMetricName(name)
      if (st.translationSuffixes)
        suffixedName(base, unit, isCounter = mtype0 == "counter",
          isGauge = mtype0 == "gauge" && !isSum)
      else base
    }
    st.metricMaxTsUs = Long.MinValue
    if (deltaConvert) {
      // per-series prefix sums in timestamp order: each point's
      // stored value becomes the running total of the deltas at or
      // before it — the cumulative level a Prometheus scrape would
      // have seen (ties keep wire order, a stable sort)
      readNumberPoints(pointMsgs.result(), norm, resource)
        .groupBy(_.labels).values.foreach { series =>
          var acc = 0.0d
          series.sortBy(_.ts_us).foreach { s =>
            acc += s.value
            st.add(s.copy(value = acc))
          }
        }
    } else pointMsgs.result().foreach { p =>
      readNumberPoint(p, norm, resource).foreach(st.add)
    }
    if (deltaHist) {
      // explicit-bounds deltas: per-series element-wise prefix sums
      // of the per-bucket counts (+count/+sum) in timestamp order —
      // each point emits the cumulative level so far. A BOUNDS-layout
      // change mid-series RESETS the accumulation (the bucket mapping
      // is gone; upstream deltatocumulative restarts the same way).
      // `sum` is proto3-optional: one sum-less delta makes every
      // later cumulative sum unknowable, so _sum rows stop until the
      // next layout reset.
      histMsgs.result().map(readHistogramPoint(_, resource))
        .groupBy(_.base).values.foreach { series =>
          var acc: HistPoint = null
          series.sortBy(_.tUs).foreach { p =>
            acc =
              if (acc == null || acc.bounds != p.bounds) p
              else p.copy(
                count = acc.count + p.count,
                sum = acc.sum + p.sum,
                hasSum = acc.hasSum && p.hasSum,
                counts = acc.counts.zipAll(p.counts, 0L, 0L)
                  .map { case (a, b) => a + b })
            emitHistogramPoint(norm, acc, st)
          }
        }
      // exponential deltas: the sparse-histogram running sum — the
      // SAME align+add arithmetic the native estimators use, so
      // mixed scales downscale to common geometry and differing zero
      // thresholds widen exactly like Prometheus's FloatHistogram
      // add. An unaddable pair (can't happen for wire-valid OTLP
      // exp points, which are never NHCB) would drop the point to
      // the skip ledger rather than fail the request.
      expHistMsgs.result().map(readExpHistogramPoint(_, resource))
        .groupBy(_.base).values.foreach { series =>
          var acc: Option[NativeHistogram.Sparse] = None
          series.sortBy(_.tUs).foreach { p =>
            val sp = NativeHistogram.toSparse(p.h)
            acc.fold(Option(sp))(a =>
                NativeHistogram.addOrDrop(Some(a), sp)) match {
              case Some(s) =>
                acc = Some(s)
                emitExpHistogramPoint(norm,
                  p.copy(h = NativeHistogram.fromSparse(p.tUs / 1000L, s)),
                  st)
              case None => st.dropped += 1
            }
          }
        }
    } else {
      histMsgs.result()
        .foreach(p => emitHistogramPoint(norm, readHistogramPoint(p, resource), st))
      expHistMsgs.result()
        .foreach(p => emitExpHistogramPoint(norm, readExpHistogramPoint(p, resource), st))
    }
    summaryMsgs.result().foreach(readSummaryPoint(_, norm, resource, st))
    // one metadata row per Metric message for the sibling store —
    // the Prometheus OTLP receiver's type mapping (monotonic
    // cumulative sum = counter, else gauge; both histogram shapes =
    // histogram), help = description, unit verbatim; stamped with
    // the metric's newest ingested point so latest-wins is
    // well-defined on read. The same label encoding as
    // PromRemoteCodec.toMetadataRows, so one store serves both paths.
    st.meta += IngestedSample(
      if (st.metricMaxTsUs == Long.MinValue) 0L else st.metricMaxTsUs,
      norm,
      Seq(s"__help=$description", s"__type=$mtype0", s"__unit=$unit"), 1.0)
  }

  /** SummaryDataPoint → classic series (the documented Prometheus
    * receiver conversion): one quantile-labeled sample PER
    * quantile_values entry on the BASE metric name, plus `_sum` and
    * `_count` rows (SummaryDataPoint.sum is a plain proto3 double —
    * always materialized, default 0). Field numbers:
    * {3: time fixed64 ns, 4: count fixed64, 5: sum double,
    * 6: ValueAtQuantile* {1: quantile double, 2: value double},
    * 7: attributes*, 8: flags}. MALFORMED points stay on the skip
    * ledger, never half-ingested: a NO_RECORDED_VALUE flag (bit 0 —
    * the staleness marker this store cannot represent) or a quantile
    * outside [0, 1] drops the WHOLE point, counted. Quantile label
    * text renders through the same shortest-round-trip formatter as
    * `le` values, so both engines print identically. */
  private def readSummaryPoint(r: ProtoWire.Reader, metric: String,
                               resource: List[String],
                               st: DecodeState): Unit = {
    var tNano = 0L
    var count = 0L
    var sum = 0.0d
    var flags = 0L
    val qs = Seq.newBuilder[(Double, Double)]
    val attrs = List.newBuilder[String]
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (3, 1) => tNano = r.readFixed64()
        case (4, 1) => count = r.readFixed64()
        case (5, 1) => sum = r.readDouble()
        case (6, 2) =>
          val m = r.readMessage()
          var q = 0.0d
          var v = 0.0d
          while (m.hasMore) {
            val (mf, mw) = m.readTag()
            (mf, mw) match {
              case (1, 1) => q = m.readDouble()
              case (2, 1) => v = m.readDouble()
              case _      => m.skip(mw)
            }
          }
          qs += ((q, v))
        case (7, 2) =>
          val (k, v) = readKeyValue(r.readMessage())
          attrs += s"${normLabelKey(k)}=$v"
        case (8, 0) => flags = r.readVarint()
        case _ => r.skip(w)
      }
    }
    val quantiles = qs.result()
    if ((flags & 1L) != 0L ||
        quantiles.exists(q => !(q._1 >= 0.0d && q._1 <= 1.0d))) {
      st.dropped += 1
      return
    }
    val tUs = tNano / 1000L
    val base = (attrs.result() ++ resource).sorted
    // A point-level attribute literally named "quantile" would
    // collide with the label we synthesize per quantile stream and
    // break the store's one-value-per-name canonical form — the
    // computed label wins, mirroring count_values' overwrite rule.
    val baseNoQ = base.filterNot(_.startsWith("quantile="))
    quantiles.foreach { case (q, v) =>
      st.add(IngestedSample(tUs, metric,
        (baseNoQ :+ s"quantile=${NativeHistogram.leText(q)}").sorted, v))
    }
    st.add(IngestedSample(tUs, metric + "_sum", base, sum))
    st.add(IngestedSample(tUs, metric + "_count", base, count.toDouble))
  }

  /** ExponentialHistogramDataPoint → classic series via the SAME
    * geometry NativeHistogram implements (public opentelemetry-proto
    * field numbers: 1 attributes, 3 time ns, 4 count fixed64, 5 sum,
    * 6 scale sint32, 7 zero_count fixed64, 8 positive Buckets,
    * 9 negative Buckets {1 offset sint32, 2 bucket_counts uint64*},
    * 14 zero_threshold). OTLP bucket index k covers
    * (base^k, base^(k+1)] where prompb's index i covers
    * (base^(i-1), base^i] — so spans shift by ONE (prompb index =
    * OTLP index + 1) and counts ride as absolutes (the float-
    * histogram arm of the shared converter). Scales outside the
    * standard −4..8 land on the skipped ledger like unsupported
    * remote-write schemas. */
  /** A parsed exponential-histogram point, pre-emission: the native
    * Hist plus its series identity — the shape the delta→cumulative
    * accumulator folds over. */
  private final case class ExpHistPoint(tUs: Long, base: Seq[String],
                                        h: NativeHistogram.Hist)

  private def readExpHistogramPoint(r: ProtoWire.Reader,
                                    resource: List[String]): ExpHistPoint = {
    var tNano = 0L
    var count = 0L
    var sum = 0.0d
    var hasSum = false
    var scale = 0
    var zeroCount = 0L
    var zeroThreshold = 0.0d
    var pos: (Int, Seq[Double]) = (0, Nil)
    var neg: (Int, Seq[Double]) = (0, Nil)
    val attrs = List.newBuilder[String]
    def readBuckets(b: ProtoWire.Reader): (Int, Seq[Double]) = {
      var off = 0
      val cs = Seq.newBuilder[Double]
      while (b.hasMore) {
        val (bf, bw) = b.readTag()
        (bf, bw) match {
          case (1, 0) =>
            val v = b.readVarint(); off = ((v >>> 1) ^ -(v & 1L)).toInt
          case (2, 2) =>
            val m = b.readMessage()
            while (m.hasMore) cs += m.readVarint().toDouble
          case (2, 0) => cs += b.readVarint().toDouble
          case _ => b.skip(bw)
        }
      }
      (off, cs.result())
    }
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) =>
          val (k, v) = readKeyValue(r.readMessage())
          attrs += s"${normLabelKey(k)}=$v"
        case (3, 1)  => tNano = r.readFixed64()
        case (4, 1)  => count = r.readFixed64()
        case (5, 1)  => sum = r.readDouble(); hasSum = true
        case (6, 0)  =>
          val v = r.readVarint(); scale = ((v >>> 1) ^ -(v & 1L)).toInt
        case (7, 1)  => zeroCount = r.readFixed64()
        case (8, 2)  => pos = readBuckets(r.readMessage())
        case (9, 2)  => neg = readBuckets(r.readMessage())
        case (14, 1) => zeroThreshold = r.readDouble()
        case _ => r.skip(w)
      }
    }
    // integer-form Hist (intra-sample deltas), the arm Prometheus's
    // OTLP translator produces — encode() then yields a proper
    // integer prompb Histogram for the sibling store
    def toDeltas(cs: Seq[Double]): Seq[Long] = {
      val longs = cs.map(_.toLong)
      if (longs.isEmpty) Nil
      else longs.head +: (1 until longs.size).map(i => longs(i) - longs(i - 1))
    }
    val h = NativeHistogram.Hist(tNano / 1000000L, count.toDouble,
      if (hasSum) sum else Double.NaN, scale, zeroThreshold,
      zeroCount.toDouble,
      if (pos._2.nonEmpty) Seq((pos._1 + 1, pos._2.size)) else Nil,
      toDeltas(pos._2), Nil,
      if (neg._2.nonEmpty) Seq((neg._1 + 1, neg._2.size)) else Nil,
      toDeltas(neg._2), Nil)
    ExpHistPoint(tNano / 1000L, (attrs.result() ++ resource).sorted, h)
  }

  private def emitExpHistogramPoint(metric: String, p: ExpHistPoint,
                                    st: DecodeState): Unit =
    NativeHistogram.toClassicSamples(metric, p.base, p.h) match {
      case Some(rows) =>
        rows.foreach(st.add)
        // the native form also lands in the hist sibling (like a
        // PRW-delivered native histogram) so the series federates
        // back on both remote-read response types
        st.hists += ((p.tUs, metric, p.base, NativeHistogram.encode(p.h)))
      case None => st.dropped += 1
    }

  /** HistogramDataPoint → classic series rows. `bucket_counts` has
    * one more entry than `explicit_bounds` (the overflow bucket);
    * cumulative counts pair with each bound and the `count` field
    * answers le="+Inf" and `_count`. `sum` is optional in proto3 —
    * only an explicitly-present sum lands a `_sum` row. */
  /** A parsed explicit-bounds histogram point, pre-emission: counts
    * are OTLP's per-bucket (non-cumulative) form — the delta
    * accumulator sums these element-wise before the cumulative-le
    * expansion runs. */
  private final case class HistPoint(tUs: Long, base: Seq[String],
                                     count: Long, sum: Double,
                                     hasSum: Boolean, bounds: Seq[Double],
                                     counts: Seq[Long])

  private def readHistogramPoint(r: ProtoWire.Reader,
                                 resource: List[String]): HistPoint = {
    var tNano = 0L
    var count = 0L
    var sum = 0.0d
    var hasSum = false
    val counts = Seq.newBuilder[Long]
    val bounds = Seq.newBuilder[Double]
    val attrs = List.newBuilder[String]
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (3, 1) => tNano = r.readFixed64()
        case (4, 1) => count = r.readFixed64()
        case (5, 1) => sum = r.readDouble(); hasSum = true
        case (6, 2) =>
          val m = r.readMessage()
          while (m.hasMore) counts += m.readFixed64()
        case (6, 1) => counts += r.readFixed64()
        case (7, 2) =>
          val m = r.readMessage()
          while (m.hasMore) bounds += m.readDouble()
        case (7, 1) => bounds += r.readDouble()
        case (9, 2) =>
          val (k, v) = readKeyValue(r.readMessage())
          attrs += s"${normLabelKey(k)}=$v"
        case _ => r.skip(w)
      }
    }
    HistPoint(tNano / 1000L, (attrs.result() ++ resource).sorted,
      count, sum, hasSum, bounds.result(), counts.result())
  }

  private def emitHistogramPoint(metric: String, p: HistPoint,
                                 st: DecodeState): Unit = {
    var cum = 0L
    p.bounds.zipWithIndex.foreach { case (b, i) =>
      cum += (if (i < p.counts.size) p.counts(i) else 0L)
      st.add(PromRemoteCodec.IngestedSample(p.tUs, metric + "_bucket",
        (p.base :+ s"le=${NativeHistogram.leText(b)}").sorted, cum.toDouble))
    }
    st.add(PromRemoteCodec.IngestedSample(p.tUs, metric + "_bucket",
      (p.base :+ "le=+Inf").sorted, p.count.toDouble))
    if (p.hasSum)
      st.add(PromRemoteCodec.IngestedSample(p.tUs, metric + "_sum",
        p.base, p.sum))
    st.add(PromRemoteCodec.IngestedSample(p.tUs, metric + "_count",
      p.base, p.count.toDouble))
  }

  private def readNumberPoints(ps: Seq[ProtoWire.Reader], metric: String,
                               resource: List[String]): Seq[IngestedSample] =
    ps.flatMap(readNumberPoint(_, metric, resource))

  private def readNumberPoint(r: ProtoWire.Reader, metric: String,
                              resource: List[String]): Option[IngestedSample] = {
    var tNano = 0L
    var value = 0.0d
    var hasValue = false
    val attrs = List.newBuilder[String]
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (3, 1) => tNano = r.readFixed64()
        case (4, 1) => value = r.readDouble(); hasValue = true
        case (6, 1) => value = r.readFixed64().toDouble; hasValue = true
        case (7, 2) =>
          val (k, v) = readKeyValue(r.readMessage())
          attrs += s"${normLabelKey(k)}=$v"
        case _ => r.skip(w)
      }
    }
    // a point with no value (e.g. NO_RECORDED_VALUE flag senders
    // leave the oneof empty) carries no sample
    if (!hasValue) None
    else Some(IngestedSample(tNano / 1000L, metric,
      (attrs.result() ++ resource).sorted, value))
  }

  private def readKeyValue(r: ProtoWire.Reader): (String, String) = {
    var k = ""
    var v = ""
    while (r.hasMore) {
      val (f, w) = r.readTag()
      (f, w) match {
        case (1, 2) => k = r.readString()
        case (2, 2) =>
          val a = r.readMessage()
          while (a.hasMore) {
            val (af, aw) = a.readTag()
            (af, aw) match {
              case (1, 2) => v = a.readString()
              case (2, 0) => v = if (a.readVarint() != 0L) "true" else "false"
              case (3, 0) => v = a.readVarint().toString
              case (4, 1) => v = a.readDouble().toString
              case _      => a.skip(aw)
            }
          }
        case _ => r.skip(w)
      }
    }
    (k, v)
  }

  // ---- encode (the client leg, for round-trip tests) ---------------

  /** Samples → one ExportMetricsServiceRequest: one Gauge metric per
    * metric name, labels as data-point attributes (the resource left
    * empty — senders that map job/instance do it per resource). */
  def encodeExportMetrics(samples: Seq[IngestedSample],
                          description: String = "",
                          unit: String = "",
                          scope: Option[(String, String, Seq[(String, String)])] = None)
      : Array[Byte] = {
    val w = new ProtoWire.Writer
    val rm = new ProtoWire.Writer
    val sm = new ProtoWire.Writer
    // InstrumentationScope {1: name, 2: version, 3: attributes} on
    // ScopeMetrics field 1 — the client leg for the scope-promotion
    // fixture
    scope.foreach { case (name, version, attrs) =>
      val sc = new ProtoWire.Writer
      if (name.nonEmpty) sc.writeStringField(1, name)
      if (version.nonEmpty) sc.writeStringField(2, version)
      attrs.foreach { case (k, v) =>
        val kv = new ProtoWire.Writer
        kv.writeStringField(1, k)
        val av = new ProtoWire.Writer
        av.writeStringField(1, v)
        kv.writeMessageField(2, av)
        sc.writeMessageField(3, kv)
      }
      sm.writeMessageField(1, sc)
    }
    samples.groupBy(_.metric).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val m = new ProtoWire.Writer
      m.writeStringField(1, name)
      if (description.nonEmpty) m.writeStringField(2, description)
      if (unit.nonEmpty) m.writeStringField(3, unit)
      val g = new ProtoWire.Writer
      ss.foreach { s =>
        val p = new ProtoWire.Writer
        p.writeFixed64Field(3, s.ts_us * 1000L)
        p.writeDoubleField(4, s.value)
        s.labels.foreach { l =>
          val i = l.indexOf('=')
          val kv = new ProtoWire.Writer
          kv.writeStringField(1, if (i < 0) l else l.take(i))
          val av = new ProtoWire.Writer
          av.writeStringField(1, if (i < 0) "" else l.drop(i + 1))
          kv.writeMessageField(2, av)
          p.writeMessageField(7, kv)
        }
        g.writeMessageField(1, p)
      }
      m.writeMessageField(5, g) // gauge
      sm.writeMessageField(2, m)
    }
    rm.writeMessageField(2, sm)
    w.writeMessageField(1, rm)
    w.toBytes
  }

  /** Samples → one ExportMetricsServiceRequest of SUM metrics with
    * the given aggregation_temporality (2 = cumulative, 1 = delta —
    * the fixture leg for the delta→cumulative conversion), optionally
    * under a resource carrying `service.name`. */
  def encodeExportSums(samples: Seq[IngestedSample], temporality: Long,
                       serviceName: Option[String] = None,
                       description: String = "",
                       unit: String = ""): Array[Byte] = {
    val w = new ProtoWire.Writer
    val rm = new ProtoWire.Writer
    serviceName.foreach { svc =>
      val res = new ProtoWire.Writer
      val kv = new ProtoWire.Writer
      kv.writeStringField(1, "service.name")
      val av = new ProtoWire.Writer
      av.writeStringField(1, svc)
      kv.writeMessageField(2, av)
      res.writeMessageField(1, kv)
      rm.writeMessageField(1, res)
    }
    val sm = new ProtoWire.Writer
    samples.groupBy(_.metric).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val m = new ProtoWire.Writer
      m.writeStringField(1, name)
      if (description.nonEmpty) m.writeStringField(2, description)
      if (unit.nonEmpty) m.writeStringField(3, unit)
      val g = new ProtoWire.Writer
      ss.foreach { s =>
        val p = new ProtoWire.Writer
        p.writeFixed64Field(3, s.ts_us * 1000L)
        p.writeDoubleField(4, s.value)
        s.labels.foreach { l =>
          val i = l.indexOf('=')
          val kv = new ProtoWire.Writer
          kv.writeStringField(1, if (i < 0) l else l.take(i))
          val av = new ProtoWire.Writer
          av.writeStringField(1, if (i < 0) "" else l.drop(i + 1))
          kv.writeMessageField(2, av)
          p.writeMessageField(7, kv)
        }
        g.writeMessageField(1, p)
      }
      g.writeVarintField(2, temporality)
      g.writeVarintField(3, 1L) // is_monotonic
      m.writeMessageField(7, g) // sum
      sm.writeMessageField(2, m)
    }
    rm.writeMessageField(2, sm)
    w.writeMessageField(1, rm)
    w.toBytes
  }

  /** An explicit-bounds histogram point for the fixture encoder —
    * `counts` are OTLP's per-bucket (NON-cumulative) form, one more
    * implicit overflow bucket rides in `count`. */
  final case class HistogramFixturePoint(metric: String, tsUs: Long,
                                         count: Long, sum: Double,
                                         bounds: Seq[Double],
                                         counts: Seq[Long],
                                         attrs: Seq[(String, String)] = Nil)

  /** Points → one ExportMetricsServiceRequest of explicit-bounds
    * HISTOGRAM metrics with the given aggregation_temporality
    * (2 = cumulative, 1 = delta — the fixture leg for the
    * histogram delta→cumulative conversion), optionally under a
    * resource carrying `service.name`. */
  def encodeExportHistograms(points: Seq[HistogramFixturePoint],
                             temporality: Long,
                             serviceName: Option[String] = None)
      : Array[Byte] = {
    val w = new ProtoWire.Writer
    val rm = new ProtoWire.Writer
    serviceName.foreach { svc =>
      val res = new ProtoWire.Writer
      val kv = new ProtoWire.Writer
      kv.writeStringField(1, "service.name")
      val av = new ProtoWire.Writer
      av.writeStringField(1, svc)
      kv.writeMessageField(2, av)
      res.writeMessageField(1, kv)
      rm.writeMessageField(1, res)
    }
    val sm = new ProtoWire.Writer
    points.groupBy(_.metric).toSeq.sortBy(_._1).foreach { case (name, ps) =>
      val m = new ProtoWire.Writer
      m.writeStringField(1, name)
      val h = new ProtoWire.Writer
      ps.foreach { hp =>
        val p = new ProtoWire.Writer
        p.writeFixed64Field(3, hp.tsUs * 1000L)
        p.writeFixed64Field(4, hp.count)
        p.writeDoubleField(5, hp.sum)
        hp.counts.foreach(c => p.writeFixed64Field(6, c))
        hp.bounds.foreach(b => p.writeDoubleField(7, b))
        hp.attrs.foreach { case (k, v) =>
          val kv = new ProtoWire.Writer
          kv.writeStringField(1, k)
          val av = new ProtoWire.Writer
          av.writeStringField(1, v)
          kv.writeMessageField(2, av)
          p.writeMessageField(9, kv)
        }
        h.writeMessageField(1, p)
      }
      h.writeVarintField(2, temporality)
      m.writeMessageField(9, h) // histogram
      sm.writeMessageField(2, m)
    }
    rm.writeMessageField(2, sm)
    w.writeMessageField(1, rm)
    w.toBytes
  }

  /** A summary data point for the fixture encoder. */
  final case class SummaryPoint(metric: String, tsUs: Long, count: Long,
                                sum: Double, quantiles: Seq[(Double, Double)],
                                attrs: Seq[(String, String)] = Nil,
                                flags: Long = 0L)

  /** Points → one ExportMetricsServiceRequest of Summary metrics
    * (one Metric message per metric name), optionally under a
    * resource carrying `service.name` (→ the `job` label). */
  def encodeExportSummaries(points: Seq[SummaryPoint],
                            serviceName: Option[String] = None): Array[Byte] = {
    val w = new ProtoWire.Writer
    val rm = new ProtoWire.Writer
    serviceName.foreach { svc =>
      val res = new ProtoWire.Writer
      val kv = new ProtoWire.Writer
      kv.writeStringField(1, "service.name")
      val av = new ProtoWire.Writer
      av.writeStringField(1, svc)
      kv.writeMessageField(2, av)
      res.writeMessageField(1, kv)
      rm.writeMessageField(1, res)
    }
    val sm = new ProtoWire.Writer
    points.groupBy(_.metric).toSeq.sortBy(_._1).foreach { case (name, ps) =>
      val m = new ProtoWire.Writer
      m.writeStringField(1, name)
      val su = new ProtoWire.Writer
      ps.foreach { sp =>
        val p = new ProtoWire.Writer
        p.writeFixed64Field(3, sp.tsUs * 1000L)
        p.writeFixed64Field(4, sp.count)
        p.writeDoubleField(5, sp.sum)
        sp.quantiles.foreach { case (q, v) =>
          val vq = new ProtoWire.Writer
          vq.writeDoubleField(1, q)
          vq.writeDoubleField(2, v)
          p.writeMessageField(6, vq)
        }
        sp.attrs.foreach { case (k, v) =>
          val kv = new ProtoWire.Writer
          kv.writeStringField(1, k)
          val av = new ProtoWire.Writer
          av.writeStringField(1, v)
          kv.writeMessageField(2, av)
          p.writeMessageField(7, kv)
        }
        if (sp.flags != 0L) p.writeVarintField(8, sp.flags)
        su.writeMessageField(1, p)
      }
      m.writeMessageField(11, su) // summary
      sm.writeMessageField(2, m)
    }
    rm.writeMessageField(2, sm)
    w.writeMessageField(1, rm)
    w.toBytes
  }
}
