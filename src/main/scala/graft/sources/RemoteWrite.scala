package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Prometheus REMOTE-WRITE ingestion — the reference's actual ingest wire
  * (its scrape pipeline consumed Prometheus data re-published to the
  * stream bus via a prometheus-serde, reference `CHANGELOG.md:353`); this
  * is the `prometheus.WriteRequest` payload every Prometheus ships to a
  * remote store: `timeseries[] = {labels[] = {name, value},
  * samples[] = {value, timestamp(ms)}}`.
  *
  * Encoding note: the upstream wire is snappy-compressed protobuf, and
  * [[parsePb]] (v1) / [[parseV2Pb]] (v2) decode those real bytes through
  * [[graft.functions.ProtoWire]] ([[graft.functions.Snappy]] undoes the
  * framing). [[parse]] reads the JSON rendering of the SAME message shape
  * — field names and nesting are the protobuf JSON mapping — for
  * hand-written bodies; all faces share one downstream explode.
  *
  * Zero-UDF discipline (same as [[Otlp]]): one `from_json` + two
  * `explode`s + pure column math, all map-side inside whole-stage
  * codegen — a 100 TB remote-write archive parses at scan speed with no
  * shuffle until the caller aggregates. Label translation: `__name__`
  * becomes the metric column (dropped from the label map), everything
  * else stays a label; sample timestamps are MILLISECONDS (the
  * remote-write unit, unlike OTLP's nanoseconds).
  */
object RemoteWrite {

  private val labelType = ArrayType(StructType(Seq(
    StructField("name", StringType),
    StructField("value", StringType))))

  private val sampleType = ArrayType(StructType(Seq(
    StructField("value", DoubleType),
    StructField("timestamp", LongType))))

  val schema: DataType = StructType(Seq(
    StructField("timeseries", ArrayType(StructType(Seq(
      StructField("labels", labelType),
      StructField("samples", sampleType)))))))

  /** Parse a frame holding one remote-write request document per row in
    * `jsonCol` into samples: `metric` (the `__name__` label), `labels`
    * (the remaining label map), `ts` (timestamp), `value` (double).
    * FAILFAST: a document that does not parse fails the action (the HTTP
    * receiver's 400) instead of silently yielding no rows. */
  def parse(df: DataFrame, jsonCol: String = "json"): DataFrame =
    fromTimeseries(df.select(from_json(col(jsonCol), schema,
        Map("mode" -> "FAILFAST"))
      .getField("timeseries").as("__tss")))

  /** The shared downstream half of both wire faces: explode an
    * array<struct<labels,samples>> `__tss` column into samples. */
  private def fromTimeseries(tss: DataFrame): DataFrame = {
    val labelMap = map_from_entries(transform(col("ts_row.labels"),
      l => struct(l.getField("name"), l.getField("value"))))
    tss.select(explode(col("__tss")).as("ts_row"))
      .select(labelMap.as("__labels"), explode(col("ts_row.samples")).as("s"))
      .select(
        element_at(col("__labels"), "__name__").as("metric"),
        map_filter(col("__labels"), (k, _) => k =!= "__name__").as("labels"),
        timestamp_millis(col("s.timestamp")).as("ts"),
        col("s.value").as("value"))
  }

  /** REAL-BYTES face of [[parse]]: decode `prometheus.WriteRequest`
    * protobuf from `binCol` ([[graft.functions.ProtoWire]] — actual
    * length-delimited wire bytes, message-grain expression) and hand the
    * decoded timeseries to the SAME downstream column math as the JSON
    * face, so the two wires are structurally incapable of diverging past
    * the codec layer. */
  def parsePb(df: DataFrame, binCol: String = "pb"): DataFrame =
    fromTimeseries(df.select(
      graft.functions.ProtoWire.decodeCol(col(binCol)).as("__tss")))

  /** Native histograms over the REAL v2 wire ([[renderV2Hist]]'s
    * protobuf twin): per `docKey` one `io.prometheus.write.v2.Request`
    * with a proper interned symbol table, labels as refs, and each
    * series' span/delta-encoded histograms riding field 3 (zigzag sint
    * schema/offsets, packed deltas — [[graft.functions.ProtoWire]]).
    * Samples/exemplars empty: a histogram series carries histograms. */
  def renderV2HistPb(hist: DataFrame, docKey: Column, metricCol: Column,
                     tsCol: Column): DataFrame = {
    val posEnc = encodeSpans(col("pos"))
    val negEnc = encodeSpans(col("neg"))
    val h = struct(
      col("count").cast("long").as("countInt"),
      col("sum").as("sum"),
      col("schema").cast("int").as("schema"),
      col("zero_count").cast("long").as("zeroCountInt"),
      negEnc.getField("spans").as("negativeSpans"),
      negEnc.getField("deltas").as("negativeDeltas"),
      posEnc.getField("spans").as("positiveSpans"),
      posEnc.getField("deltas").as("positiveDeltas"),
      unix_millis(tsCol).as("timestamp"))
    hist.groupBy(docKey.as("__doc"), metricCol.cast("string").as("__m"))
      .agg(collect_list(h).as("__hists"))
      .groupBy(col("__doc"))
      .agg(collect_list(struct(col("__m"), col("__hists"))).as("__series"))
      .withColumn("symbols", array_sort(array_distinct(concat(
        array(lit(""), lit("__name__")),
        transform(col("__series"), s => s.getField("__m"))))))
      .select(col("__doc"), graft.functions.ProtoWire.encodeV2Col(struct(
        col("symbols"),
        transform(col("__series"), s => {
          def ref(c: Column) =
            (array_position(col("symbols"), c) - 1).cast("int")
          struct(
            array(ref(lit("__name__")), ref(s.getField("__m")))
              .as("labelsRefs"),
            array().cast("array<struct<value:double,timestamp:bigint>>")
              .as("samples"),
            array().cast(
              "array<struct<labelsRefs:array<int>,value:double,timestamp:bigint>>")
              .as("exemplars"),
            s.getField("__hists").as("histograms"))
        }).as("timeseries"))).as("pb"))
  }

  /** [[parseV2Hist]]'s real-bytes twin: decode the v2 `Request` protobuf
    * and hand spans/deltas to the SAME [[decodeBuckets]] column math —
    * output shape identical to the JSON face (native-histogram frame
    * rows). */
  def parseV2HistPb(df: DataFrame, binCol: String = "pb"): DataFrame = {
    val base = df.select(
        graft.functions.ProtoWire.decodeV2Col(col(binCol)).as("d"))
      .select(col("d.symbols").as("__sym"),
        explode(col("d.timeseries")).as("ts_row"))
      .withColumn("__labels",
        resolveRefs(col("ts_row.labelsRefs"), col("__sym")))
      .select(
        element_at(col("__labels"), "__name__").as("metric"),
        explode(col("ts_row.histograms")).as("h"))
    base.select(
      col("metric"),
      timestamp_millis(col("h.timestamp")).as("ts"),
      col("h.schema").as("schema"),
      col("h.countInt").cast("double").as("count"),
      col("h.sum").as("sum"),
      col("h.zeroCountInt").cast("double").as("zero_count"),
      decodeBuckets(col("h.positiveSpans"), col("h.positiveDeltas")).as("pos"),
      decodeBuckets(col("h.negativeSpans"), col("h.negativeDeltas")).as("neg"))
  }

  /** [[render]]'s real-bytes twin: one `WriteRequest` protobuf document
    * per `docKey` group in column `pb`. Same grouping/ordering rules
    * (ascending-timestamp samples; `__name__` leads the label list). */
  def renderPb(df: DataFrame, docKey: Column, metricCol: Column, tsCol: Column,
               valueCol: Column, labelCols: Seq[(String, Column)]): DataFrame = {
    val labels = array(
      (("__name__", metricCol) +: labelCols).map { case (k, c) =>
        struct(lit(k).as("name"), c.cast("string").as("value"))
      }: _*)
    val sampleOrd = struct(
      unix_millis(tsCol).as("timestamp"),
      valueCol.cast("double").as("value"))
    df.groupBy(docKey.as("__doc"), labels.as("__labels"))
      .agg(array_sort(collect_list(sampleOrd)).as("__samples"))
      .groupBy(col("__doc"))
      .agg(graft.functions.ProtoWire.encodeCol(collect_list(
        struct(col("__labels").as("labels"),
          transform(col("__samples"), s => struct(
            s.getField("value").as("value"),
            s.getField("timestamp").as("timestamp"))).as("samples"))))
        .as("pb"))
  }

  // ---------- remote-write 2.0 (interned symbols, exemplars) ----------

  /** Remote-write 2.0 (`io.prometheus.write.v2.Request`): ONE
    * request-level `symbols` string table, and every label set — series
    * labels AND exemplar labels — as `labelsRefs`, a flat int array of
    * alternating (name-ref, value-ref) indices into it. The deduped
    * symbol table is the wire's size win at 100 TB scale; resolving refs
    * is pure column math here (`element_at` into the per-document
    * symbols array inside `transform`), so the interning costs nothing
    * at parse time — no shuffle, no UDF, whole-stage codegen. Exemplars
    * ride each timeseries (`{labelsRefs, value, timestamp(ms)}`). */
  private val rw2Schema: DataType = StructType(Seq(
    StructField("symbols", ArrayType(StringType)),
    StructField("timeseries", ArrayType(StructType(Seq(
      StructField("labelsRefs", ArrayType(IntegerType)),
      StructField("samples", sampleType),
      StructField("exemplars", ArrayType(StructType(Seq(
        StructField("labelsRefs", ArrayType(IntegerType)),
        StructField("value", DoubleType),
        StructField("timestamp", LongType)))))))))))

  /** Resolve an alternating (name-ref, value-ref) array against the
    * document's symbol table into a label map. Refs are 0-based
    * (element_at is 1-based, hence +1); ref 0 = the spec's mandatory
    * empty-string first symbol. */
  private def resolveRefs(refs: Column, symbols: Column): Column =
    map_from_entries(transform(
      sequence(lit(0), (size(refs) / 2).cast("int") - 1),
      i => struct(
        element_at(symbols, element_at(refs, i * 2 + 1) + 1).as("k"),
        element_at(symbols, element_at(refs, i * 2 + 2) + 1).as("v"))))

  // ----- RW2.0 native histograms: span/delta wire codec ---------------

  /** The wire's sparse-bucket encoding (upstream `BucketSpan` +
    * delta-coded counts): `positiveSpans[] = {offset, length}` where a
    * span's offset is the gap to the PREVIOUS span's exclusive end (the
    * first span's offset is the absolute start), and
    * `positiveDeltas[j]` is the count's delta vs the previous bucket
    * (first = absolute). Encode and decode are both single `aggregate`
    * folds over model-sized arrays — pure column math, no UDFs, no
    * shuffle. */
  private val histWireType = ArrayType(StructType(Seq(
    StructField("countInt", LongType),
    StructField("sum", DoubleType),
    StructField("schema", IntegerType),
    StructField("zeroCountInt", LongType),
    StructField("positiveSpans", ArrayType(StructType(Seq(
      StructField("offset", IntegerType),
      StructField("length", IntegerType))))),
    StructField("positiveDeltas", ArrayType(LongType)),
    StructField("negativeSpans", ArrayType(StructType(Seq(
      StructField("offset", IntegerType),
      StructField("length", IntegerType))))),
    StructField("negativeDeltas", ArrayType(LongType)),
    StructField("timestamp", LongType))))

  /** spans + deltas → the engine's sparse `(idx, cnt)` bucket array. */
  private def decodeBuckets(spans: Column, deltas: Column): Column = {
    // absolute indexes: fold spans carrying the running exclusive end
    val idxs = aggregate(
      coalesce(spans, array().cast(
        "array<struct<offset:int,length:int>>")),
      struct(lit(0).as("cur"),
        array().cast("array<int>").as("ix")),
      (acc, sp) => {
        val start = acc.getField("cur") + sp.getField("offset")
        struct(
          (start + sp.getField("length")).as("cur"),
          concat(acc.getField("ix"),
            transform(sequence(lit(0), sp.getField("length") - 1),
              j => start + j)).as("ix"))
      },
      acc => acc.getField("ix"))
    // absolute counts: running sum over the deltas
    val cnts = aggregate(
      coalesce(deltas, array().cast("array<bigint>")),
      struct(lit(0L).as("cur"),
        array().cast("array<bigint>").as("cs")),
      (acc, d) => struct(
        (acc.getField("cur") + d).as("cur"),
        concat(acc.getField("cs"), array(acc.getField("cur") + d)).as("cs")),
      acc => acc.getField("cs"))
    zip_with(idxs, cnts, (i, c) =>
      struct(i.as("idx"), c.cast("double").as("cnt")))
  }

  /** The engine's sparse `(idx, cnt)` array → (spans, deltas). Buckets
    * must be idx-sorted (the engine's canonical form). */
  private def encodeSpans(pos: Column): Column =
    aggregate(
      pos,
      struct(
        array().cast("array<struct<offset:int,length:int>>").as("spans"),
        array().cast("array<bigint>").as("deltas"),
        lit(null).cast("int").as("prev"),
        lit(0L).as("prevCnt")),
      (acc, b) => {
        val contiguous = acc.getField("prev").isNotNull &&
          b.getField("idx") === acc.getField("prev") + 1
        val lastSpan = element_at(acc.getField("spans"), -1)
        val extended = concat(
          slice(acc.getField("spans"), lit(1),
            size(acc.getField("spans")) - 1),
          array(struct(lastSpan.getField("offset").as("offset"),
            (lastSpan.getField("length") + 1).as("length"))))
        val opened = concat(acc.getField("spans"), array(struct(
          (b.getField("idx") -
            coalesce(acc.getField("prev") + 1, lit(0))).as("offset"),
          lit(1).as("length"))))
        struct(
          when(contiguous, extended).otherwise(opened).as("spans"),
          concat(acc.getField("deltas"),
            array(b.getField("cnt").cast("bigint") -
              acc.getField("prevCnt"))).as("deltas"),
          b.getField("idx").cast("int").as("prev"),
          b.getField("cnt").cast("bigint").as("prevCnt"))
      },
      acc => struct(acc.getField("spans").as("spans"),
        acc.getField("deltas").as("deltas")))

  /** Render native-histogram rows (the engine shape: group cols +
    * schema/count/sum/zero_count/pos/neg + a timestamp) into RW2.0
    * documents carrying span/delta-encoded `histograms[]`. Declared
    * delta: this codec face carries labels in the v1 name/value form —
    * the symbol-interning machinery lives in [[renderV2]]/[[parseV2]]
    * and composes orthogonally; here the point under test is the
    * span/delta bucket wire. */
  def renderV2Hist(df: DataFrame, docKey: Column, metricCol: Column,
                   tsCol: Column): DataFrame = {
    val posEnc = encodeSpans(col("pos"))
    val negEnc = encodeSpans(col("neg"))
    val h = struct(
      col("count").cast("long").as("countInt"),
      col("sum").as("sum"),
      col("schema").as("schema"),
      col("zero_count").cast("long").as("zeroCountInt"),
      posEnc.getField("spans").as("positiveSpans"),
      posEnc.getField("deltas").as("positiveDeltas"),
      negEnc.getField("spans").as("negativeSpans"),
      negEnc.getField("deltas").as("negativeDeltas"),
      unix_millis(tsCol).as("timestamp"))
    val labels = array(
      struct(lit("__name__").as("name"), metricCol.cast("string").as("value")))
    df.groupBy(docKey.as("__doc"), labels.as("__labels"))
      .agg(array_sort(collect_list(h)).as("histograms"))
      .groupBy(col("__doc"))
      .agg(to_json(struct(collect_list(
        struct(col("__labels").as("labels"), col("histograms")))
        .as("timeseries"))).as("json"))
  }

  private val rw2HistSchema: DataType = StructType(Seq(
    StructField("timeseries", ArrayType(StructType(Seq(
      StructField("labels", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("value", StringType))))),
      StructField("histograms", histWireType)))))))

  /** Parse RW2.0 histogram documents back into the engine shape:
    * `(metric, ts, schema, count, sum, zero_count, pos, neg)`. */
  def parseV2Hist(df: DataFrame, jsonCol: String = "json"): DataFrame = {
    val labelMap = map_from_entries(transform(col("ts_row.labels"),
      l => struct(l.getField("name"), l.getField("value"))))
    df.select(from_json(col(jsonCol), rw2HistSchema).as("d"))
      .select(explode(col("d.timeseries")).as("ts_row"))
      .select(labelMap.as("__labels"), explode(col("ts_row.histograms")).as("h"))
      .select(
        element_at(col("__labels"), "__name__").as("metric"),
        timestamp_millis(col("h.timestamp")).as("ts"),
        col("h.schema").as("schema"),
        col("h.countInt").cast("double").as("count"),
        col("h.sum").as("sum"),
        col("h.zeroCountInt").cast("double").as("zero_count"),
        decodeBuckets(col("h.positiveSpans"), col("h.positiveDeltas")).as("pos"),
        decodeBuckets(col("h.negativeSpans"), col("h.negativeDeltas")).as("neg"))
  }

  /** Parse remote-write 2.0 request documents into samples
    * `(metric, labels, ts, value)` plus per-series exemplars exploded
    * into `(metric, labels, ex_labels, ex_value, ex_ts)` rows — callers
    * split on `is_exemplar`. */
  def parseV2(df: DataFrame, jsonCol: String = "json"): DataFrame =
    parseV2Struct(df.select(from_json(col(jsonCol), rw2Schema).as("d")))

  /** The shared downstream half of both v2 wire faces: a `d` struct
    * column (symbols + timeseries) exploded into sample and exemplar
    * rows. */
  private def parseV2Struct(parsed: DataFrame): DataFrame = {
    val base = parsed
      .select(col("d.symbols").as("__sym"),
        explode(col("d.timeseries")).as("ts_row"))
      .withColumn("__labels", resolveRefs(col("ts_row.labelsRefs"), col("__sym")))
    val samples = base
      .select(col("__labels"), lit(false).as("is_exemplar"),
        explode(col("ts_row.samples")).as("s"),
        lit(null).cast("map<string,string>").as("ex_labels"))
      .select(
        element_at(col("__labels"), "__name__").as("metric"),
        map_filter(col("__labels"), (k, _) => k =!= "__name__").as("labels"),
        col("is_exemplar"),
        timestamp_millis(col("s.timestamp")).as("ts"),
        col("s.value").as("value"),
        col("ex_labels"))
    val exemplars = base
      .select(col("__sym"), col("__labels"), lit(true).as("is_exemplar"),
        explode(col("ts_row.exemplars")).as("e"))
      .select(
        element_at(col("__labels"), "__name__").as("metric"),
        map_filter(col("__labels"), (k, _) => k =!= "__name__").as("labels"),
        col("is_exemplar"),
        timestamp_millis(col("e.timestamp")).as("ts"),
        col("e.value").as("value"),
        resolveRefs(col("e.labelsRefs"), col("__sym")).as("ex_labels"))
    samples.unionByName(exemplars)
  }

  /** Render samples + per-series newest exemplars INTO remote-write 2.0
    * documents with a properly interned symbol table: per `docKey`, the
    * deduped sorted symbol set (empty string first, per spec) is built
    * in-row and every label resolves to its ref via `array_position` —
    * the exact inverse of [[parseV2]], still zero UDFs. */
  def renderV2(df: DataFrame, docKey: Column, metricCol: Column,
               tsCol: Column, valueCol: Column,
               labelCols: Seq[(String, Column)],
               exLabel: (String, Column)): DataFrame =
    renderV2Assembled(df, docKey, metricCol, tsCol, valueCol, labelCols,
      exLabel)
      .select(col("__doc"), to_json(col("__req")).as("json"))

  /** The shared assembly half of both v2 wire faces: one row per
    * `docKey` group with the full request as a struct column `__req`. */
  private def renderV2Assembled(df: DataFrame, docKey: Column,
                                metricCol: Column, tsCol: Column,
                                valueCol: Column,
                                labelCols: Seq[(String, Column)],
                                exLabel: (String, Column)): DataFrame = {
    val sample = struct(
      unix_millis(tsCol).as("timestamp"),
      valueCol.cast("double").as("value"))
    val perSeries = df
      .groupBy(docKey.as("__doc"),
        metricCol.cast("string").as("__m"),
        array(labelCols.map { case (k, c) =>
          struct(lit(k).as("k"), c.cast("string").as("v")) }: _*).as("__lbl"))
      .agg(array_sort(collect_list(sample)).as("samples"),
        max_by(struct(exLabel._2.cast("string").as("exv"),
          unix_millis(tsCol).as("exts"),
          valueCol.cast("double").as("exval")),
          // (ts, value, trace): a TOTAL order — same-(ts, value) samples
          // with different traces must pick deterministically
          struct(tsCol, valueCol, exLabel._2.cast("string"))).as("__ex"))
    perSeries.groupBy(col("__doc"))
      .agg(collect_list(struct(col("__m"), col("__lbl"), col("samples"),
        col("__ex"))).as("__series"))
      // the interned table: series/label/exemplar strings only — its
      // size is bounded by the document's series metadata, never samples
      .withColumn("symbols", array_sort(array_distinct(concat(
        array(lit(""), lit("__name__"), lit(exLabel._1)),
        flatten(transform(col("__series"), s => concat(
          array(s.getField("__m"), s.getField("__ex").getField("exv")),
          flatten(transform(s.getField("__lbl"), l =>
            array(l.getField("k"), l.getField("v")))))))))))
      .select(col("__doc"), requestV2Struct(exLabel._1).as("__req"))
  }

  /** The assembled v2 request as ONE struct column (symbols +
    * ref-resolved timeseries) — shared by the JSON and protobuf faces. */
  private def requestV2Struct(exLabelName: String): Column = {
    def ref(c: Column) = (array_position(col("symbols"), c) - 1).cast("int")
    struct(
      col("symbols"),
      transform(col("__series"), s =>
        struct(
          concat(
            array(ref(lit("__name__")), ref(s.getField("__m"))),
            flatten(transform(s.getField("__lbl"), l =>
              array(ref(l.getField("k")), ref(l.getField("v"))))))
            .as("labelsRefs"),
          s.getField("samples").as("samples"),
          array(struct(
            array(ref(lit(exLabelName)), ref(s.getField("__ex").getField("exv")))
              .as("labelsRefs"),
            s.getField("__ex").getField("exval").as("value"),
            s.getField("__ex").getField("exts").as("timestamp")))
            .as("exemplars"))).as("timeseries"))
  }

  /** [[renderV2]]'s real-bytes twin: one v2 `Request` protobuf document
    * per `docKey` group in column `pb` ([[graft.functions.ProtoWire]]
    * encodeV2 — interned symbols, PACKED labels_refs, embedded samples
    * and exemplars), built from the SAME request struct as the JSON
    * face. */
  def renderV2Pb(df: DataFrame, docKey: Column, metricCol: Column,
                 tsCol: Column, valueCol: Column,
                 labelCols: Seq[(String, Column)],
                 exLabel: (String, Column)): DataFrame =
    renderV2Assembled(df, docKey, metricCol, tsCol, valueCol, labelCols,
      exLabel)
      .select(col("__doc"),
        graft.functions.ProtoWire.encodeV2Col(col("__req")).as("pb"))

  /** REAL-BYTES face of [[parseV2]]: decode v2 `Request` protobuf and
    * hand the decoded struct to the SAME downstream column math. */
  def parseV2Pb(df: DataFrame, binCol: String = "pb"): DataFrame =
    parseV2Struct(df.select(
      graft.functions.ProtoWire.decodeV2Col(col(binCol)).as("d")))

  /** Render a sample frame INTO remote-write request documents — the
    * inverse used by the replay harness and oracle (one request per
    * `docKey` group, one timeseries per (metric, label set) within it,
    * samples ordered by timestamp as upstream requires). */
  def render(df: DataFrame, docKey: Column, metricCol: Column, tsCol: Column,
             valueCol: Column, labelCols: Seq[(String, Column)]): DataFrame = {
    val labels = array(
      (("__name__", metricCol) +: labelCols).map { case (k, c) =>
        struct(lit(k).as("name"), c.cast("string").as("value"))
      }: _*)
    // timestamp leads the struct so array_sort orders samples by time
    // (upstream requires ascending-timestamp samples); from_json reads
    // fields by name, so the JSON field order is irrelevant.
    val sample = struct(
      unix_millis(tsCol).as("timestamp"),
      valueCol.cast("double").as("value"))
    df.groupBy(docKey.as("__doc"), labels.as("__labels"))
      .agg(array_sort(collect_list(sample)).as("samples"))
      .groupBy(col("__doc"))
      .agg(to_json(struct(collect_list(
        struct(col("__labels").as("labels"), col("samples"))).as("timeseries")))
        .as("json"))
  }
}
