package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{BinaryType, DecimalType, DoubleType, LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** A parquet leaf file that is structurally damaged — truncated, tail
  * overwritten, or missing pages its own footer claims. Thrown BY NAME
  * from the shared read gate (see [[Engine.byteStreamSplitSafePath]]'s
  * leaf probe) so a torn file fails pre-scan with the leaf path, the
  * defect, and the remediation — instead of one opaque
  * FAILED_READ_FILE per query mid-execution across the whole gate
  * (the brotli-codec failure convention; TornFileSpec pins batch and
  * streaming legs). A dedicated type so the probe's best-effort
  * NonFatal degradation can rethrow it deliberately. */
final class TornFileException(msg: String) extends IllegalStateException(msg)

/** Session + table plumbing shared by every query entry point.
  *
  * Scale notes (100 TB design intent): all table loads go through
  * [[Engine.table]] so a future move from loose parquet files to a
  * partitioned/bucketed catalog is a one-line change. Sessions created
  * here pin `spark.sql.shuffle.partitions` to the local core count and
  * enable AQE (runtime coalescing + skew-join splitting), which is what
  * a 1000-executor deployment would run with too.
  */
object Engine {

  /** All driver-provided test tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def session(appName: String = "graft", cores: String = "32"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // ns-precision event parquet (TIMESTAMP(NANOS), which Spark's
      // vectorized reader refuses) reads as raw ns-since-epoch longs;
      // micros-precision TIMESTAMP reads natively — [[epochNs]]
      // dispatches on whichever arrives (round-4 testdata drift).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // engine extensions: bounded-edit-distance rewrite (GraftExtensions)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate IGNORES every builder config when a session already
    // exists in the JVM — a silent mismatch here means ns parquet reads
    // throw, the optimizer extension is absent, and the core count lies.
    // Fail loudly instead (the configs below are session-scoped, so a
    // same-JVM second caller CAN differ only on master/extensions).
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true"
        && spark.conf.get("spark.sql.extensions", "").contains("GraftExtensions"),
      "pre-existing SparkSession lacks graft configs (nanosAsLong/extensions) — " +
        "stop it before calling Engine.session")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one TESTDATA table from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // BYTE_STREAM_SPLIT pages (a pyarrow use_byte_stream_split float
    // recode) are readable by parquet-mr but NOT by Spark's vectorized
    // reader — every scan dies at execution with "Unsupported
    // encoding". Absorb by restaging through the non-vectorized path
    // into standard encodings (memoized per path; see
    // byteStreamSplitSafePath). Canonical layouts never hit the
    // branch (footer probe, shared with the nanos recovery below).
    val base = spark.read.parquet(byteStreamSplitSafePath(spark, path, name))
    // events.ts is EXEMPT from nanos recovery: epochNs owns that
    // column's encoding dispatch (a raw ns LONG is its exact-integer
    // fast path — recoding it to a micros timestamp would silently
    // truncate genuine sub-microsecond event times, while the date
    // columns recovered here carry midnight/micros values by contract)
    val exempt = if (name == "events") Set("ts") else Set.empty[String]
    utf8Strings(canonicalNumerics(
      recoverNanosTimestamps(spark, path, base, exempt)))
  }

  /** TIMESTAMP(NANOS) recovery — the third leg of the temporal
    * latitude, after [[epochNs]] (events.ts) and TemporalEncodingSpec's
    * DATE/TIMESTAMP/NTZ/INT96/MILLIS pins. A pandas/pyarrow
    * regeneration that skips `coerce_timestamps` ships datetime64[ns]
    * columns as parquet TIMESTAMP(NANOS); the session's
    * `nanosAsLong=true` (required for the round-4 events.ts fixtures)
    * then surfaces EVERY such column as a raw ns-since-epoch LONG —
    * and each date function on o_orderdate/l_shipdate dies at
    * analysis. The Spark schema has already erased the annotation, so
    * recovery reads the parquet FOOTER (via [[probeLeafFacts]] —
    * file, multi-file, and hive dir shapes all covered) and rebuilds the
    * timestamp: exact integer floor to micros (pmod keeps pre-epoch
    * values on the floor, matching DuckDB's ns→us semantics), then
    * NTZ or LTZ per the annotation's isAdjustedToUTC — the same two
    * types the us/millis annotations would have produced.
    * Best-effort by design: an unreadable footer leaves the frame
    * untouched (the query then fails analysis exactly as before).
    * Cost: the footer facts come from the per-path [[leafFacts]]
    * memo (one listFiles + footer-tail read per path per JVM — the
    * unmemoized version measurably taxed the full bench suite; see
    * the cache contract there).
    * NanosEncodingSpec pins the premise, both recovery branches (NTZ
    * wall-clock and tz-aware LTZ), the directory-shaped footer probe,
    * and the events.ts exemption. */
  private[graft] def recoverNanosTimestamps(spark: SparkSession, path: String,
      df: DataFrame, exempt: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    val longCols = df.schema.fields.collect {
      case f if f.dataType == LongType && !exempt(f.name) => f.name
    }.toSet
    if (longCols.isEmpty) df
    else {
      val nanos = nanosAnnotated(spark, path).filter { case (c, _) => longCols(c) }
      nanos.foldLeft(df) { case (d, (c, adjustedToUtc)) =>
        val micros = timestamp_micros(expr(s"(`$c` - pmod(`$c`, 1000)) div 1000"))
        d.withColumn(c,
          if (adjustedToUtc) micros
          else {
            // wall-clock annotation: rebuild the NTZ the us-precision
            // layout would have carried. The LTZ→NTZ cast reinterprets
            // in the SESSION zone — UTC is pinned (same contract as
            // epochNs's NTZ leg), anything else would shift values.
            val tz = spark.conf.get("spark.sql.session.timeZone")
            require(tz == "UTC",
              s"$c is TIMESTAMP(NANOS, wall-clock): recovery needs " +
                s"spark.sql.session.timeZone=UTC (got $tz)")
            micros.cast(TimestampNTZType)
          })
      }
    }
  }

  /** Probe EVERY leaf parquet file of the table (file, multi-file dir,
    * and hive dir shapes). All three facts are unioned across leaves:
    * BYTE_STREAM_SPLIT and the codec set are per-COLUMN-CHUNK
    * properties that a mixed-writer export can carry in only SOME part
    * files, and the TIMESTAMP(NANOS) map is merged per column too
    * (first-seen flag wins on the pathological conflicting-annotation
    * case — both flags read the same ns longs, and a genuinely mixed
    * instant/wall-clock export is ambiguous beyond any frame-level
    * recovery) so an appended part file that introduces the annotation
    * is still recovered. A single-leaf sample would miss any of these
    * and the scan would die (or mis-type) at execution. Best-effort for
    * TRANSIENT failures (an FS hiccup on the listing yields None and
    * the latitude degrades for this read only) — but a leaf file that
    * is demonstrably DAMAGED throws [[TornFileException]] through: a
    * torn file can never be scanned, so degrading would just defer the
    * death to an opaque mid-execution FAILED_READ_FILE (the same
    * whole-gate failure shape the codec gate closes; TornFileSpec). */
  private def probeLeafFacts(spark: SparkSession, path: String): Option[LeafFacts] =
    try {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      import scala.jdk.CollectionConverters._
      val p = new org.apache.hadoop.fs.Path(path)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true) // recursive: hive layouts nest dirs
      var nanos: Map[String, Boolean] = null
      var bss = false
      var codecs = Set.empty[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
          val footerLen = validateLeafFraming(fs, f)
          val reader =
            try org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
            catch { case scala.util.control.NonFatal(e) =>
              // framing (magic/length) is intact, so the thrift footer
              // metadata itself is corrupt — still a named pre-scan
              // death, never an execution-time one
              throw new TornFileException(tornMsg(f.getPath.toString,
                s"its footer metadata is unreadable " +
                  s"(${e.getClass.getSimpleName}: ${e.getMessage})"))
            }
          try {
            val footer = reader.getFooter
            val leafNanos = footer.getFileMetaData.getSchema.getFields.asScala.collect {
              case g if g.isPrimitive =>
                (g.getName, g.asPrimitiveType().getLogicalTypeAnnotation)
            }.collect {
              case (n, t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation)
                  if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
                n -> t.isAdjustedToUTC
            }.toMap
            nanos =
              if (nanos == null) leafNanos
              else nanos ++ (leafNanos -- nanos.keySet) // first-seen flag wins
            val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
            // torn MID-FILE: the footer survived (it sits at the tail)
            // but column chunks claim bytes past where the data region
            // actually ends — the shape a partial copy / interrupted
            // upload leaves when the tail happens to land intact
            val dataEnd = f.getLen - 8 - footerLen
            chunks.map(c => c.getStartingPos + c.getTotalSize).maxOption
              .filter(_ > dataEnd)
              .foreach(end => throw new TornFileException(tornMsg(
                f.getPath.toString,
                s"its footer claims column-chunk bytes up to offset $end but the " +
                  s"data region ends at $dataEnd — torn mid-file (missing pages)")))
            bss = bss || chunks.exists(_.getEncodings.asScala.exists(
              _ == org.apache.parquet.column.Encoding.BYTE_STREAM_SPLIT))
            codecs = codecs ++ chunks.map(_.getCodec.name).toSet
          } finally reader.close()
        }
      }
      if (nanos == null) None else Some(LeafFacts(nanos, bss, codecs))
    } catch {
      case torn: TornFileException => throw torn
      case scala.util.control.NonFatal(_) => None
    }

  private def tornMsg(leaf: String, defect: String): String =
    s"Engine: parquet leaf file $leaf cannot be read — $defect. Re-export or " +
      "quarantine the file: a torn parquet file cannot be partially scanned, " +
      "and without this gate every query over it dies mid-execution as an " +
      "opaque FAILED_READ_FILE"

  /** Cheap structural validation of one leaf's parquet framing (head
    * magic, tail magic, footer length) BEFORE handing it to the footer
    * parser — a truncated or tail-overwritten file fails here with a
    * deterministic defect name. Returns the footer length so the
    * caller can bound-check the data region. ~3 short reads per leaf,
    * and the probe is memoized per path ([[leafFacts]]). */
  private def validateLeafFraming(fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.LocatedFileStatus): Long = {
    val len = f.getLen
    val leaf = f.getPath.toString
    def torn(defect: String): Nothing = throw new TornFileException(tornMsg(leaf, defect))
    if (len < 12)
      torn(s"it is $len bytes, below the 12-byte parquet minimum (truncated)")
    val in = fs.open(f.getPath)
    try {
      val magic = "PAR1".getBytes("US-ASCII")
      val head = new Array[Byte](4)
      in.readFully(0L, head)
      if (!java.util.Arrays.equals(head, magic))
        torn("its header magic is not PAR1 (not a parquet file, or the head " +
          "was overwritten)")
      val tail = new Array[Byte](8)
      in.readFully(len - 8, tail)
      if (!java.util.Arrays.equals(java.util.Arrays.copyOfRange(tail, 4, 8), magic))
        torn("its footer magic is not PAR1 — the file was truncated or its " +
          "tail overwritten")
      val footerLen = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      if (footerLen <= 0 || footerLen.toLong + 16 > len)
        torn(s"its footer length field claims $footerLen bytes, which overruns " +
          s"the $len-byte file — torn or corrupt footer")
      footerLen.toLong
    } finally in.close()
  }

  /** Everything the read latitude needs from a table's parquet footer:
    * TIMESTAMP(NANOS) columns (name → isAdjustedToUTC), whether any
    * column chunk carries BYTE_STREAM_SPLIT pages, and the set of
    * compression codecs in use. Extracted in ONE probe pass over the
    * leaf footers (all three facts unioned across ALL leaves — see
    * [[probeLeafFacts]]) and MEMOIZED per path until invalidated —
    * the unmemoized version did the pass per table read per
    * iteration; a back-to-back full-suite A/B read 91.1 s vs 91.7 s
    * (adjacent windows at the same HEAD spanned 83.5-96.9 s), i.e.
    * the probes were already lost in ambient window variance — the
    * memo is kept as a pure IO saving, not a measured win. Cache
    * contract: a path's layout is immutable while its facts are
    * cached. [[invalidateFooterFacts]] drops the memo — Bench/Verify
    * wire it into the between-query session reset, so across harness
    * queries the contract only needs to hold WITHIN one query; a test
    * or library caller that rewrites an already-read path in the same
    * JVM calls it too (or uses a fresh directory). */
  private case class LeafFacts(nanos: Map[String, Boolean], byteStreamSplit: Boolean,
      codecs: Set[String] = Set.empty)

  private val leafFactsCache =
    new java.util.concurrent.ConcurrentHashMap[String, LeafFacts]

  /** Drop every memoized footer fact and BSS restage mapping. The
    * caches assume a path's layout is immutable while cached (see
    * [[LeafFacts]]) — nothing enforces that against a same-JVM rewrite
    * of an already-read path (a reused fixture dir, a rehearsal
    * replica rebuilt in place), which would otherwise serve stale
    * facts and silently miss a newly-introduced BSS/NANOS/codec drift.
    * `Bench.resetSession` calls this between harness queries (the BSS
    * stage mapping is revalidated against its _SUCCESS marker anyway,
    * but a rewritten SOURCE under a still-complete stage would
    * otherwise read the pre-rewrite rows). */
  def invalidateFooterFacts(): Unit = {
    leafFactsCache.clear()
    bssStageCache.clear()
    // classpath-derived, not path-derived, but the codec guard's
    // "dynamic by design" promise (drop a brotli jar in and the read
    // works) held only across JVM restarts while this memo lived for
    // the JVM lifetime — clear it with the rest; re-probing costs one
    // Class.forName per DISTINCT codec name per harness query
    // (round-12 ADVICE)
    codecClassCache.clear()
  }

  private def leafFacts(spark: SparkSession, path: String): LeafFacts = {
    val cached = leafFactsCache.get(path)
    if (cached != null) cached
    else probeLeafFacts(spark, path) match {
      case Some(facts) => leafFactsCache.put(path, facts); facts
      case None =>
        // a FAILED probe is deliberately NOT cached: pinning "no
        // facts" for the JVM lifetime would turn one transient FS
        // hiccup into silently-degraded latitude for every later read
        // of the path — degrade this read only, retry on the next
        LeafFacts(Map.empty, byteStreamSplit = false)
    }
  }

  /** INT64 TIMESTAMP(NANOS) columns (name → isAdjustedToUTC) from the
    * footer of the table's first leaf parquet file. */
  private def nanosAnnotated(spark: SparkSession, path: String): Map[String, Boolean] =
    leafFacts(spark, path).nanos

  /** The hadoop codec class a parquet compression codec resolves to
    * when it is NOT on this build's classpath, else None — i.e. "can
    * Spark decode pages compressed with `codec` at all". Mirrors
    * parquet-java's CodecFactory lookup (CompressionCodecName →
    * getHadoopCompressionCodecClassName → conf.getClassByName): the
    * built-in codecs (snappy/gzip/zstd/lz4/lz4_raw) resolve to classes
    * inside the parquet/hadoop jars Spark ships, while BROTLI and LZO
    * resolve to optional codec jars this deployment does not carry —
    * parquet then throws ClassNotFoundException per column chunk at
    * EXECUTION, one opaque FAILED_READ_FILE per scan (the same
    * whole-gate death mode as the pre-round-11 BSS class, except no
    * restage can absorb it: the NON-vectorized reader needs the same
    * class). Dynamic by design: dropping a brotli-codec jar onto the
    * deployment classpath makes the guard pass and the read just work.
    * Memoized per codec name (Class.forName on a miss costs a
    * classloader scan per call otherwise); the memo is dropped by
    * [[invalidateFooterFacts]] alongside the footer facts, so the
    * dynamic promise holds per harness query, not just per JVM. */
  private val codecClassCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]

  private def missingCodecClass(spark: SparkSession, codec: String): Option[String] =
    codecClassCache.computeIfAbsent(codec, c => {
      val cls =
        try org.apache.parquet.hadoop.metadata.CompressionCodecName
          .valueOf(c).getHadoopCompressionCodecClassName
        catch { case _: IllegalArgumentException => null } // future codec enum value
      if (cls == null) None // UNCOMPRESSED (or unmapped): nothing to load
      else
        try { spark.sparkContext.hadoopConfiguration.getClassByName(cls); None }
        catch { case _: ClassNotFoundException => Some(cls) }
    })

  /** A path whose parquet Spark's VECTORIZED reader can decode: the
    * original `path` when its encodings are standard, else a scratch
    * directory holding a restage written through the non-vectorized
    * reader. Shared by [[table]] and the streaming event source — a
    * streaming scan hits the same "Unsupported encoding:
    * BYTE_STREAM_SPLIT" execution death a batch scan does, and the
    * staged DIRECTORY slots straight into the file-stream source's
    * directory branch.
    *
    * Also the shared UNDECODABLE-CODEC gate (it sits on every driver
    * table read path, batch and streaming): a table compressed with a
    * codec whose hadoop class is absent (brotli, lzo) cannot be
    * decoded by EITHER parquet reader — no restage can absorb it — so
    * the read fails HERE, by name, naming table, codec, and the
    * missing class, instead of as one opaque FAILED_READ_FILE per
    * query across the whole gate (CodecEncodingSpec pins it; the
    * round-11 bss rehearsal proved the 27-opaque-reds failure shape).
    *
    * The restage is MEMOIZED per source path and revalidated against
    * the staged dir's _SUCCESS marker: the scratch dir follows the
    * [[graft.operators.Scratch]] lifecycle (releaseAll deletes it
    * between harness queries), so the next read after a release
    * restages fresh instead of returning a dangling path — one
    * restage per path per harness query, not one per Engine.table
    * call (a q97-shape query reads events once per join side).
    * The whole restage is serialized under one lock: the
    * enableVectorizedReader flip is session-global, and two unlocked
    * concurrent restages could interleave set/restore and leave the
    * vectorized reader off for the rest of the session. (Callers
    * flipping that conf OUTSIDE this helper are on their own.) */
  private val bssStageCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]
  private val bssStageLock = new Object

  private[graft] def byteStreamSplitSafePath(spark: SparkSession, path: String,
      name: String): String = {
    val facts = leafFacts(spark, path)
    for (codec <- facts.codecs.toSeq.sorted; cls <- missingCodecClass(spark, codec))
      throw new IllegalStateException(
        s"Engine: table '$name' at $path is compressed with codec $codec, which " +
          s"this Spark build cannot decode (codec class $cls is not on the " +
          "classpath) — re-export the table with snappy/zstd/gzip/lz4, or add " +
          "the codec jar to the deployment")
    if (!facts.byteStreamSplit) path
    else bssStageLock.synchronized {
      val conf = spark.sparkContext.hadoopConfiguration
      def complete(dir: String): Boolean =
        try {
          val marker = new org.apache.hadoop.fs.Path(dir, "_SUCCESS")
          marker.getFileSystem(conf).exists(marker)
        } catch { case scala.util.control.NonFatal(_) => false }
      val cached = bssStageCache.get(path)
      if (cached != null && complete(cached)) cached
      else {
        val dir = graft.operators.Scratch.newDir(spark, s"graft-bss-$name")
        val key = "spark.sql.parquet.enableVectorizedReader"
        val prior = spark.conf.get(key)
        spark.conf.set(key, "false")
        try spark.read.parquet(path).write.mode("overwrite").parquet(dir.toString)
        finally spark.conf.set(key, prior)
        bssStageCache.put(path, dir.toString)
        dir.toString
      }
    }
  }

  /** Driver-table string-annotation latitude. The TESTDATA schemas
    * declare NO binary columns, so a BinaryType arriving from a driver
    * scan can only be a string whose writer dropped parquet's UTF8
    * logical-type annotation (pyarrow `binary` instead of `string`, or
    * an annotation-stripping writer flip) — Spark reads un-annotated
    * BYTE_ARRAY as BinaryType and every string consumer then dies at
    * analysis (the string analog of the round-4 events.ts drift). Cast
    * it back: Spark's binary→string cast IS the UTF-8 decode the
    * annotation would have declared, so annotated and un-annotated
    * layouts read value-identical (LayoutEncodingSpec pins it).
    *
    * Deliberately NOT the global `spark.sql.parquet.binaryAsString`
    * conf: that flip would also corrupt GENUINE payload binary
    * (Multimodal media columns) on engine-internal parquet. Only
    * driver-table reads route here; Scratch read-backs keep their
    * written schema. */
  def utf8Strings(df: DataFrame): DataFrame = {
    val bin = df.schema.fields.collect { case f if f.dataType == BinaryType => f.name }
    if (bin.isEmpty) df
    else bin.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(StringType)))
  }

  /** Driver-table DECIMAL latitude — the numeric analog of
    * [[utf8Strings]]. The TESTDATA contract is double measures
    * (l_extendedprice, o_totalprice, events.value, …) and integral
    * keys, but TPC-H's CANONICAL schema types every money column
    * DECIMAL(15,2): a driver generator flip (DuckDB's tpch extension,
    * pyarrow decimal columns) would ship DecimalType, and every
    * double-typed kernel parameter then fails analysis while decimal
    * aggregate arithmetic drifts from the pinned double semantics.
    * Normalize at the read boundary:
    *  - scale == 0 → LongType (the key class; within the int-vs-long
    *    latitude KeyWidthEncodingSpec already pins);
    *  - scale  > 0 → DoubleType (the measure class; exact for values
    *    carrying ≤ 17 significant digits, i.e. every money column —
    *    and the oracle comparison rounds aggregates anyway).
    * A scale-0 value past the Long range (a DECIMAL(20,0)/uint64 id
    * above 2^63-1) fails BY NAME in BOTH cast regimes (round-10
    * ADVICE; same fail-loud convention as [[epochNs]] and
    * capBlocksHashed's type guard): under ANSI the cast throws anyway,
    * but with ansi.enabled=false Spark's legacy decimal→long cast
    * WRAPS (Decimal.toLong ≙ BigDecimal.longValue — 2^63 silently
    * becomes Long.MinValue), which corrupts the join key without a
    * null or an error anywhere — so the guard bound-checks the DECIMAL
    * itself before casting. It only exists on columns whose precision
    * can exceed a long (> 18 digits); narrower decimals cast
    * unconditionally. Only driver-table reads route here
    * (same scoping rationale as [[utf8Strings]]); engine-internal
    * scratch parquet keeps whatever schema it wrote.
    * LayoutEncodingSpec's `decimal` variant pins value-identity
    * against the canonical double layout; UnsignedEncodingSpec pins
    * the overflow case. */
  def canonicalNumerics(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{concat, lit, raise_error, when}
    val decs = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[DecimalType] =>
        (f.name, f.dataType.asInstanceOf[DecimalType])
    }
    if (decs.isEmpty) df
    else decs.foldLeft(df) { case (d, (c, t)) =>
      d.withColumn(c,
        if (t.scale != 0) col(c).cast(DoubleType)
        else if (t.precision <= 18) col(c).cast(LongType)
        else {
          val outOfRange =
            col(c) > lit(Long.MaxValue) || col(c) < lit(Long.MinValue)
          when(col(c).isNotNull && outOfRange,
            raise_error(concat(
              lit(s"Engine.canonicalNumerics: $c value "), col(c).cast(StringType),
              lit(" exceeds the int64 range — scale-0 DECIMAL keys must fit a " +
                "long (the legacy cast would silently wrap the key and drop " +
                "join rows downstream)"))))
            .otherwise(col(c).cast(LongType))
        })
    }
  }

  /** Event-time column as ns-since-epoch LONG, whatever the parquet
    * encoding. Real event tables ship timestamps three ways — raw
    * int64 ns (our legacy fixtures, via nanosAsLong), TIMESTAMP
    * (micros, the common warehouse export), TIMESTAMP_NTZ — and every
    * downstream bucket/gap/window computation here is exact integer
    * arithmetic on ns longs so Spark and the SQL oracle floor
    * identically at bucket boundaries. Dispatch on the schema:
    *  - LongType: already ns, pass through;
    *  - Timestamp(NTZ): `unix_micros * 1000` — exact (no float leg),
    *    and micros*1000 cannot overflow a long for any date before
    *    year ~2262. NTZ casts to TIMESTAMP first; the session TZ is
    *    pinned UTC so the cast is value-preserving.
    * Works on streaming DataFrames too (dispatches on the schema, the
    * expression is per-row). Anything else fails loudly with the
    * column's actual type — a testdata drift should name itself, not
    * surface as nine downstream analysis errors (round-4 verdict). */
  def epochNs(schema: StructType, colName: String): Column =
    schema(colName).dataType match {
      case LongType => col(colName)
      case TimestampType =>
        // an instant: unix_micros is timezone-independent
        unix_micros(col(colName)) * 1000L
      case TimestampNTZType =>
        // wall-clock: the NTZ→TIMESTAMP cast interprets it in the
        // SESSION timezone. The oracle (DuckDB) treats NTZ wall-clock
        // as UTC, so any other session zone silently shifts every
        // bucket — fail loudly instead of computing wrong.
        val tz = SparkSession.active.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"$colName is TIMESTAMP_NTZ: epochNs needs spark.sql.session.timeZone=UTC " +
            s"(got $tz) for wall-clock-as-UTC semantics")
        unix_micros(col(colName).cast(TimestampType)) * 1000L
      case other => throw new IllegalArgumentException(
        s"$colName: expected ns-long or timestamp-typed event time, got $other")
    }

  def epochNs(df: DataFrame, colName: String): Column = epochNs(df.schema, colName)

  /** The `events` table with `ts` normalized to ns-since-epoch LONG
    * (see [[epochNs]]) — the single read path for event-time queries. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val df = table(spark, sfDir, "events")
    df.withColumn("ts", epochNs(df, "ts"))
  }

  /** Round-robin repartition to the session's shuffle parallelism.
    *
    * For the probe side of pair-generating joins (LSH buckets, blocked
    * self-joins, ANN candidate scans): join work is quadratic in block
    * sizes while probe parallelism is whatever the upstream SCAN
    * produced, so a small or compacted input (a single file split)
    * silently serializes the whole join onto one core. Spreading the
    * linear-size probe rows first is cheap relative to the join and
    * restores full-cluster parallelism at any scale. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions)
}
