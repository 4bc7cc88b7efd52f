package graft.queries

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Canon, ConfScope, Scratch, Tables}

/** SURVEY.md §2.1 SRC2/SRC3 (CSV/JSON scans with declared schema) +
  * SNK1 (batch sinks — the write half of each round-trip).
  *
  * Pattern: write the table to the text format in a temp dir, re-read it
  * with the explicit schema, and aggregate a content checksum; the oracle
  * computes the same checksum on the ORIGINAL parquet — any loss or
  * mangling in the round-trip (quoting, timestamp precision, null
  * encoding) breaks the hash.
  *
  * 100 TB notes: both sources are splittable line formats — schema is
  * declared (no inference scan), so a directory of CSV/JSON parts scans
  * with the same per-split parallelism as parquet, just without column
  * pruning/pushdown (documented trade-off; these formats are ingest
  * edges, not analytical storage).
  */
object SourcesSinks {
  import Canon.{money, asLong, d}

  /** Micro-second-precise timestamp format: Spark's CSV/JSON default
    * keeps only millis — µs timestamps in this data would be truncated
    * and the checksum would catch it. */
  private val TsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SRC2 + SNK1 — CSV round-trip of lineitem.
    "src2_csv_roundtrip" -> ((s, dir) => {
      val src = Tables.lineitem(s, dir)
      val tmp = Scratch.dir("csv", dir).toString
      src.write.mode("overwrite")
        .option("header", "true").option("timestampFormat", TsFmt)
        .csv(tmp)
      s.read.schema(src.schema)
        .option("header", "true").option("timestampFormat", TsFmt)
        .csv(tmp)
        .agg(count(lit(1)).as("n"),
             sum(col("l_orderkey")).as("sum_okey"),
             sum(asLong(col("l_quantity"))).as("sum_qty"),
             d(sum(money(col("l_extendedprice")))).as("sum_price"),
             min(col("l_shipdate")).as("min_ship"),
             max(col("l_shipdate")).as("max_ship"))
    }),

    // SNK3 + SRC6 — hive-style PARTITIONED parquet write + partition-
    // pruned read-back: lineitem written partitionBy(l_returnflag), then
    // re-read with a partition-key filter. At 100 TB this is THE layout
    // move: the filtered scan lists and reads only the matching
    // directories (PartitionFilters in the plan — asserted in PlanSpec),
    // so a returnflag query touches 1/3 of the files no matter the total
    // size. The checksum proves the partition columns round-trip exactly
    // (they're encoded in directory names, not data files).
    "snk3_partitioned_roundtrip" -> ((s, dir) => {
      val src = Tables.lineitem(s, dir)
      val tmp = Scratch.dir("part", dir).toString
      src.write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("l_returnflag") === "R")
        .agg(count(lit(1)).as("n"),
             sum(col("l_orderkey")).as("sum_okey"),
             sum(asLong(col("l_quantity"))).as("sum_qty"),
             d(sum(money(col("l_extendedprice")))).as("sum_price"),
             min(col("l_shipdate")).as("min_ship"),
             max(col("l_shipdate")).as("max_ship"))
    }),

    // SRC7 + SNK1 — ORC round-trip of lineitem: the other major columnar
    // format Spark ships natively (vectorized reader, predicate pushdown
    // — the same scan machinery as parquet behind `format("orc")`). The
    // checksum must equal SRC2's CSV round-trip and the DuckDB oracle on
    // the original parquet: three formats, one table, one hash.
    "src7_orc_roundtrip" -> ((s, dir) => {
      val src = Tables.lineitem(s, dir)
      val tmp = Scratch.dir("orc", dir).toString
      src.write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .agg(count(lit(1)).as("n"),
             sum(col("l_orderkey")).as("sum_okey"),
             sum(asLong(col("l_quantity"))).as("sum_qty"),
             d(sum(money(col("l_extendedprice")))).as("sum_price"),
             min(col("l_shipdate")).as("min_ship"),
             max(col("l_shipdate")).as("max_ship"))
    }),

    // SRC8 — XML round-trip (Spark 4's built-in XML source, the
    // spark-xml donation): row-major XML with an explicit read schema
    // (the SRC3 pattern — schema-on-read is the declared contract for
    // text formats; XML stores dates/decimals as text). Runs on orders
    // (dates + decimals + strings), NOT lineitem: XML parses at roughly
    // an eighth of the columnar formats' speed, and a 600 k-row trip
    // priced the whole suite's slowest line at ~10 s for no extra
    // format coverage. 100 TB: XML is a per-row text codec — partitions
    // perfectly, but at ~10× parquet's bytes; the roundtrip exists to
    // prove the source works, not to recommend it at scale.
    "src8_xml_roundtrip" -> ((s, dir) => {
      val src = Tables.orders(s, dir)
      val tmp = Scratch.dir("xml", dir).toString
      src.write.mode("overwrite").option("rowTag", "row")
        .format("xml").save(tmp)
      s.read.schema(src.schema).option("rowTag", "row")
        .format("xml").load(tmp)
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("sum_okey"),
             sum(col("o_custkey")).as("sum_ckey"),
             d(sum(money(col("o_totalprice")))).as("sum_price"),
             min(col("o_orderdate")).as("min_date"),
             max(col("o_orderdate")).as("max_date"))
    }),

    // SRC3 + SNK1 — JSON-lines round-trip of events (µs timestamps).
    "src3_json_roundtrip" -> ((s, dir) => {
      val src = Tables.events(s, dir)
      val tmp = Scratch.dir("json", dir).toString
      src.write.mode("overwrite").option("timestampFormat", TsFmt).json(tmp)
      s.read.schema(src.schema)
        .option("timestampFormat", TsFmt).json(tmp)
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("sum_id"),
             sum(col("user_id")).as("sum_uid"),
             d(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"),
             min(col("ts")).as("min_ts"),
             max(col("ts")).as("max_ts"))
    }),

    // SNK6 — small-file COMPACTION of a partitioned table: the
    // operational pass every streaming sink needs (S13's per-batch
    // deltas, SNK4's snapshots — micro-batch writers shed a file per
    // batch per partition, and at 100 TB a year of hourly batches is
    // ~10⁴ files per partition, which kills scan planning long before
    // it kills I/O). Fragment: events written partitionBy(event_type)
    // with 8 shuffle partitions → 8 files per partition dir. Compact:
    // re-read, ONE hash shuffle keyed on the partition column (every
    // row of a partition lands in one task) → exactly one file per
    // partition dir, dynamic-overwrite so only touched partitions
    // rewrite (partition-scoped, the S13 merge economics; file-count
    // collapse + row-set content identity pinned in
    // `test/EngineSpec.scala` "SNK6"). The checksum
    // reads the COMPACTED table — any row lost or doubled in the
    // rewrite breaks the hash vs the original-parquet oracle.
    // SNK7 — SORTED-layout sink + data skipping: SNK6 fixes file
    // COUNT; the other half of 100 TB layout is ORDER. Min/max
    // (zone-map) pruning only bites when the probe key is clustered
    // across files and within them: repartitionByRange(8, ts) is one
    // range exchange, so the 8 files cover pairwise-DISJOINT ts ranges,
    // and sortWithinPartitions(ts, event_id) makes every parquet row
    // group a tight ts-run. The read-back applies a fixed 3-of-30-day
    // ts slice (events span Jan 2024 at every sf): the parquet
    // reader's pushed predicate drops whole row groups by footer
    // stats, so ~90% of the table is never decoded — a random-layout
    // write with identical content decodes everything. EngineSpec
    // "SNK7" pins per-file range disjointness, the predicate reaching
    // PushedFilters, and the scan's output-row metric collapsing to
    // the matched slice. The checksum reads the FILTERED sorted table
    // vs the oracle filtering the original parquet — a row lost or
    // doubled by the rewrite, or dropped by over-eager pruning,
    // breaks the hash.
    "snk7_sorted_skip" -> ((s, dir) => {
      snk7Write(s, dir)
      snk7Read(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("sum_id"),
             min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
             d(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // SNK8 — Z-ORDER (Morton) layout + TWO-dimensional data skipping:
    // SNK7's single-key sort prunes on ts alone; a second frequent
    // predicate column (value) still sprays across every file. Z-order
    // interleaves the bits of per-column RANGE-BUCKET ids (32 buckets
    // per dimension — the public Delta/Iceberg OPTIMIZE ZORDER shape:
    // bucket, interleave, range-partition + sort by the z-value), so
    // each output file covers a compact RECTANGLE in (ts, value) space
    // and parquet footer stats prune on EITHER column. The bucket
    // boundaries come from one tiny min/max aggregate (1 driver row —
    // aggregate cardinality); the z-value is a layout artifact, dropped
    // before the write, so ANY bucketing arithmetic is semantically
    // free — the checksum vs the original-parquet oracle is what
    // guards content. Read-back = SNK7's 3-day ts slice AND a fixed
    // value band: EngineSpec "SNK8" pins both predicates reaching
    // PushedFilters, the per-file (ts, value) bounding boxes
    // intersecting the probe box in only a minority of files, and the
    // scan-decode metric collapsing. 100 TB: one agg pass + one range
    // exchange + task-local sort — the same bill as a plain sort, with
    // multi-predicate pruning bought for it.
    "snk8_zorder_skip" -> ((s, dir) => {
      snk8Write(s, dir)
      snk8Read(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("sum_id"),
             sum(col("user_id")).as("sum_uid"),
             d(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // J17 — DYNAMIC partition pruning (DPP): SNK3 pins STATIC pruning
    // (a literal partition predicate); at 100 TB the selective
    // predicate usually lives on a DIMENSION side of a join, only
    // knowable at runtime. The fact table is written partitioned by
    // event_type; the dim is a DATA-DEPENDENT type subset (types whose
    // min event_id is even — deterministic, non-foldable, splits the
    // domain 3/2 at every shipped sf), broadcast into the join; Spark
    // injects a dynamicpruningexpression into the fact scan's
    // PartitionFilters, so non-qualifying partitions are never even
    // listed — the runtime complement of static pruning. PlanSpec
    // "J17" pins the dynamic filter in the scan and that the scan
    // decodes exactly the surviving partitions' rows.
    "j17_dpp" -> ((s, dir) => {
      val out = Scratch.dir("j17dpp", dir).toString
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      val fact = s.read.parquet(out)
      val dim = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(min(col("event_id")).as("mid"))
        .filter(col("mid") % 2 === 0)
        .select(col("event_type"))
      fact.join(broadcast(dim), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("sum_id"),
             sum(col("user_id")).as("sum_uid"),
             d(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // SNK9 — MANIFEST-pinned atomic snapshot publish: the third leg of
    // the 100 TB layout story (SNK6 file count, SNK7/SNK8 ordering,
    // SNK9 ISOLATION). Directory listing is not a publication protocol:
    // a reader that lists files races compaction (sees both old and new
    // files → doubled rows) and in-flight writers (sees half-written
    // temp files). The public fix (the Iceberg/Delta log idea, reduced
    // to its core) is to publish a VERSION = an immutable data-file set
    // + one atomically-renamed manifest naming exactly those files;
    // readers resolve the manifest and never list. Here: publish v1
    // (the events table, 8 files), compact into v2 (2 files, v1 files
    // RETAINED — versions are immutable), publish v2's manifest; the
    // canonical read resolves the LATEST manifest. EngineSpec "SNK9"
    // additionally pins the isolation claim: after v2 exists and a
    // dangling junk parquet is dropped into the data dir (a torn
    // concurrent writer), the v1 snapshot still reads exactly v1's
    // content and a naive directory read is provably corrupted.
    "snk9_snapshot_publish" -> ((s, dir) => {
      val (_, v2) = snk9PublishBoth(s, dir)
      snk9ReadSnapshot(s, v2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("sum_id"),
             min(col("event_id")).as("min_id"),
             max(col("event_id")).as("max_id"),
             d(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // SRC9 — SCHEMA-EVOLUTION read (mergeSchema): at 100 TB the table
    // is years of files and the schema DRIFTED — old generations lack
    // columns newer ones carry. Generation 1 (even orderkeys) is
    // written WITHOUT l_extendedprice; generation 2 (odd) with it; the
    // read unions the footers (`mergeSchema`), old files surface the
    // missing column as NULL, and the directory layout (gen=N) doubles
    // as a discovered partition column. The checksum separates the
    // generations arithmetically (sum/count of the evolved column hit
    // only gen-2 rows), so a row read with the wrong generation's
    // schema breaks the hash vs the oracle replaying the split from
    // the original table. 100 TB note: footer-merge cost is per-file —
    // scope `mergeSchema` to evolving prefixes (or pin the unified
    // schema explicitly) rather than defaulting it on; EngineSpec
    // "SRC9" pins the physical asymmetry (gen-1 files alone lack the
    // column) and the per-generation null pattern.
    "src9_schema_evolution" -> ((s, dir) => {
      val out = Scratch.dir("src9evolve", dir).toString
      val li = Tables.lineitem(s, dir)
      li.filter(col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").parquet(out + "/gen=1")
      li.filter(col("l_orderkey") % 2 === 1)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"),
          col("l_extendedprice"))
        .write.mode("overwrite").parquet(out + "/gen=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
             sum(col("l_quantity").cast("long")).as("sum_qty"),
             d(sum(col("l_extendedprice").cast(DecimalType(18, 2))))
               .as("sum_price"),
             count(col("l_extendedprice")).as("n_evolved"))
        .orderBy(col("l_returnflag"))
    }),

    // SNK10 — row-level MERGE as copy-on-write version publish (see
    // snk10Run): keyed update/delete/insert applied by rewriting only
    // delta-touched files, manifest v2 = carried v1 files + new files,
    // atomic rename the sole publish point. The checksum reads the v2
    // snapshot THROUGH its manifest (mixed carried + rewritten files);
    // the oracle replays the same merge in SQL over the source table —
    // a lost delete, double-applied update, missed insert, or a
    // carried/rewritten file-set error all break the hash.
    "snk10_merge" -> ((s, dir) => {
      val r = snk10Run(s, dir)
      snk9ReadSnapshot(s, r.v2Manifest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("sum_id"),
             sum(col("user_id")).as("sum_uid"),
             d(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    "snk6_compaction" -> ((s, dir) => {
      val frag = Scratch.dir("snk6frag", dir).toString
      val comp = Scratch.dir("snk6comp", dir).toString
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
      ev.repartition(8)
        .write.mode("overwrite").partitionBy("event_type").parquet(frag)
      val back = s.read.parquet(frag)
      back.repartition(col("event_type"))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("event_type").parquet(comp)
      s.read.parquet(comp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("sum_id"),
             sum(col("user_id")).as("sum_uid"),
             d(sum(col("value").cast(DecimalType(18, 4)))).as("sum_value"))
        .orderBy(col("event_type"))
    })
  )

  /** SNK7 probe slice — fixed literals (events span 2024-01-01 …
    * 2024-01-30 at every shipped sf), interpolated into both engines'
    * predicates; ~10% selectivity, crossing one of the 8 range-file
    * boundaries. */
  private[graft] val Snk7From = "2024-01-10 00:00:00"
  private[graft] val Snk7To = "2024-01-13 00:00:00"

  /** SNK7 sorted write — exposed for EngineSpec's layout pins.
    * TIMESTAMP_MICROS output is load-bearing: Spark's default INT96
    * timestamps carry no usable parquet column statistics, so the
    * sorted layout would write files the reader can never skip — the
    * predicate shows up in PushedFilters and silently prunes nothing
    * (EngineSpec's scan-metric pin exists to catch exactly that). */
  private[graft] def snk7Write(s: SparkSession, dir: String): String = {
    val out = Scratch.dir("snk7sorted", dir).toString
    ConfScope.withConf(s, Map(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")) {
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"), col("ts"))
        .repartitionByRange(8, col("ts"))
        .sortWithinPartitions(col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** SNK7 filtered read-back over the sorted layout — exposed for
    * EngineSpec's PushedFilters + scan-metric pins. */
  private[graft] def snk7Read(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Scratch.dir("snk7sorted", dir).toString)
      .filter(col("ts") >= lit(Snk7From).cast(TimestampType) &&
              col("ts") < lit(Snk7To).cast(TimestampType))

  /** SNK8 probe box: SNK7's ts slice × a value band that is non-empty
    * at every shipped sf (value tops out ≈ 327 / 490 / 560). */
  private[graft] val Snk8ValLo = 100.0
  private[graft] val Snk8ValHi = 200.0

  /** SNK8 buckets per dimension (5 bits each → 10-bit z-values). */
  private[graft] val Snk8Buckets = 32

  /** Morton interleave of two Snk8Buckets-range bucket ids: dimension
    * A's bit k lands at z-bit 2k+1, B's at 2k — the standard z-curve,
    * built from shift/and/or so it stays inside whole-stage codegen.
    * Exposed for EngineSpec's known-value pin. */
  private[graft] def zInterleave5(ba: Column, bb: Column): Column =
    (0 until 5).map { k =>
      shiftleft(shiftright(ba, k).bitwiseAND(lit(1L)), 2 * k + 1)
        .bitwiseOR(shiftleft(shiftright(bb, k).bitwiseAND(lit(1L)), 2 * k))
    }.reduce(_.bitwiseOR(_))

  /** SNK8 z-ordered write — exposed for EngineSpec's layout pins.
    * TIMESTAMP_MICROS for the same reason as SNK7 (INT96 carries no
    * usable parquet statistics). */
  private[graft] def snk8Write(s: SparkSession, dir: String): String = {
    val out = Scratch.dir("snk8zorder", dir).toString
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"), col("ts"))
    // range boundaries for the bucket ids: one min/max aggregate,
    // 1 driver row (the Delta OPTIMIZE ZORDER range-id pass)
    val b = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
      min(col("value")), max(col("value"))).head()
    val (tLo, tHi) = (b.getLong(0), b.getLong(1))
    val (vLo, vHi) = (b.getDouble(2), b.getDouble(3))
    val nB = lit(Snk8Buckets.toDouble)
    val bt = least(lit(Snk8Buckets - 1L),
      floor((unix_micros(col("ts")) - lit(tLo)).cast("double") * nB /
        lit((tHi - tLo + 1).toDouble)).cast("long"))
    val bv = least(lit(Snk8Buckets - 1L),
      floor((col("value") - lit(vLo)) * nB /
        lit(vHi - vLo + 1e-9)).cast("long"))
    ConfScope.withConf(s, Map(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")) {
      ev.withColumn("zv", zInterleave5(bt, bv))
        .repartitionByRange(16, col("zv"))
        .sortWithinPartitions(col("zv"), col("event_id"))
        .drop("zv")
        .write.mode("overwrite").parquet(out)
    }
    out
  }

  /** SNK9 snapshot layout root: `data/` holds immutable version file
    * sets side by side; `manifests/vN.list` names a version's exact
    * files (one absolute path per line), written to a temp name and
    * ATOMIC_MOVE-renamed — the publish point. */
  private[graft] def snk9Root(dir: String): java.nio.file.Path =
    Scratch.dir("snk9snap", dir)

  /** The columns every snapshot version holds — SNK9's, SNK10's and
    * S19's writers all publish this projection of `events` — and their
    * schema, which every snapshot read passes, so no read pays a
    * footer-read job to infer it. */
  private[graft] val SnapshotSchema: StructType = StructType(
    Seq("event_id", "user_id", "value", "event_type")
      .map(graft.core.Schemas.events(_)))

  /** `df` projected to the snapshot columns, ready to publish. */
  private[graft] def snapshotRows(df: DataFrame): DataFrame =
    df.select(SnapshotSchema.fieldNames.toIndexedSeq.map(col): _*)

  /** Read snapshot data files (or data dirs) with their writer's
    * schema. */
  private def readSnapshotFiles(s: SparkSession,
                                paths: Seq[String]): DataFrame =
    s.read.schema(SnapshotSchema).parquet(paths: _*)

  /** List one data dir's parquet files — the WRITER-side listing of
    * the manifest protocol (readers never list). */
  private[graft] def listParquet(dataDir: java.nio.file.Path): Seq[String] = {
    val ls = java.nio.file.Files.list(dataDir)
    try ls.iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    finally ls.close()
  }

  /** Atomically publish a manifest naming `files` as version `version`
    * under `root` — temp write + ATOMIC_MOVE rename is the publish
    * point. Shared by SNK9 (batch versions) and S19 (per-micro-batch
    * versions). Returns the manifest path. */
  private[graft] def publishManifest(root: java.nio.file.Path,
                                     version: Long,
                                     files: Seq[String]): String = {
    require(files.nonEmpty, s"version $version published no files")
    val mdir = root.resolve("manifests")
    java.nio.file.Files.createDirectories(mdir)
    val tmp = mdir.resolve(s"v$version.list.tmp")
    java.nio.file.Files.writeString(tmp, files.mkString("\n"))
    val fin = mdir.resolve(s"v$version.list")
    java.nio.file.Files.move(tmp, fin,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    fin.toString
  }

  /** Publish one version: write the dataframe's files under an
    * immutable per-version data dir, list them (at publish time, by the
    * writer — readers never list), and atomically rename the manifest
    * into place. Returns the manifest path. */
  private[graft] def snk9Publish(root: java.nio.file.Path,
                                 version: Int, df: DataFrame): String = {
    val dataDir = root.resolve("data").resolve(s"v$version")
    df.write.mode("overwrite").parquet(dataDir.toString)
    publishManifest(root, version, listParquet(dataDir))
  }

  /** Publish v1 (the events table as 8 files) and v2 (the same rows
    * compacted to 2 files — v1's files RETAINED). Returns both manifest
    * paths. */
  private[graft] def snk9PublishBoth(s: SparkSession, dir: String)
      : (String, String) = {
    val root = snk9Root(dir)
    val ev = snapshotRows(Tables.events(s, dir))
    val v1 = snk9Publish(root, 1, ev.repartition(8))
    val v2 = snk9Publish(root, 2,
      readSnapshotFiles(s, Seq(root.resolve("data").resolve("v1").toString))
        .repartition(2))
    (v1, v2)
  }

  /** SNK10 copy-on-write MERGE result — the file-set evidence the
    * EngineSpec pins assert over. */
  private[graft] case class Snk10Result(v1Manifest: String,
                                        v2Manifest: String,
                                        v1Files: Seq[String],
                                        touchedFiles: Seq[String],
                                        carriedFiles: Seq[String],
                                        newFiles: Seq[String],
                                        candidateFiles: Seq[String])

  /** SNK10 root (own staging dir — snk9's versions stay untouched). */
  private[graft] def snk10Root(dir: String): java.nio.file.Path =
    Scratch.dir("snk10merge", dir)

  /** The SNK10 keyed delta, deterministic and disjoint by
    * construction, and RECENT-SKEWED — confined to the top quarter of
    * the key range (id·4 ≥ 3·max_id), the production MERGE shape
    * (corrections target recent keys), so the range-clustered layout's
    * touched-file set is a strict subset: UPDATE value += 1000 where
    * event_id % 97 == 0, DELETE where event_id % 101 == 0 (and not
    * updated), INSERT 5 rows at ids 10_000_000+i (beyond every shipped
    * sf's id range). */
  private[graft] val Snk10InsertRows: Seq[(Long, Long, Double, String)] =
    (0 until 5).map(i => (10000000L + i, 9000L + i, i + 0.5, "insert"))

  /** Per-file (min,max) merge-key stats sidecar, written next to the
    * manifest at publish time (lines `path\tmin\tmax`, atomic rename —
    * the manifest discipline). This is the Iceberg/Delta per-file
    * column-stats core: the writer already knows the key layout (the
    * range sort produced it); persisting it lets a later MERGE prune
    * candidate files MANIFEST-SIDE, opening zero data files that
    * cannot contain a delta key. */
  private[graft] def writeKeyStats(root: java.nio.file.Path, version: Int,
                                   stats: Seq[(String, Long, Long)])
      : String = {
    val mdir = root.resolve("manifests")
    java.nio.file.Files.createDirectories(mdir)
    val tmp = mdir.resolve(s"v$version.stats.tmp")
    java.nio.file.Files.writeString(tmp,
      stats.map(t => s"${t._1}\t${t._2}\t${t._3}").mkString("\n"))
    val fin = mdir.resolve(s"v$version.stats")
    java.nio.file.Files.move(tmp, fin,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    fin.toString
  }

  private[graft] def readKeyStats(path: String): Seq[(String, Long, Long)] =
    java.nio.file.Files.readString(java.nio.file.Paths.get(path))
      .split("\n").toSeq.filter(_.nonEmpty).map { ln =>
        val Array(p, mn, mx) = ln.split("\t")
        (p, mn.toLong, mx.toLong)
      }

  /** Does [a, b] contain a multiple of k? (positives, floor division) */
  private[graft] def hasMultiple(a: Long, b: Long, k: Long): Boolean =
    a <= b && b / k >= (a + k - 1) / k

  /** SNK10 — row-level MERGE as a COPY-ON-WRITE version publish (the
    * Iceberg/Delta MERGE INTO reduced to its manifest core, completing
    * SNK9's protocol with mutation): apply a keyed delta
    * (update/delete/insert) to the published table by rewriting ONLY
    * the data files that contain a delta key; untouched files are
    * carried into version v+1's manifest verbatim, and readers pinned
    * to v see nothing until the v+1 manifest's atomic rename.
    *
    * Touched-file identification, two stages (the manifest-side
    * pruning is the production dial):
    * 1. MANIFEST-side candidate pruning: v1 is RANGE-CLUSTERED on the
    *    merge key (repartitionByRange + sortWithinPartitions — the SNK7
    *    layout) and publishes per-file (min,max) key stats alongside
    *    its manifest ([[writeKeyStats]]). The delta's key predicate
    *    (mod-97/mod-101 multiples in the recent top key quarter) is
    *    evaluated against each file's [min,max] by driver arithmetic —
    *    a file whose range cannot contain a delta key is carried
    *    without being OPENED. maxId too comes from the stats (max of
    *    file maxima), so candidacy costs zero data-file reads.
    * 2. Exact probe over CANDIDATES only: key ranges may have gaps, so
    *    the stats check is a superset; a column-pruned scan of
    *    (event_id, _metadata.file_path) restricted to candidate files
    *    refines it to the exactly-touched set. 100 TB: stage 1 is
    *    manifest-cardinality work on the driver; stage 2 reads ONE
    *    int64 column of only the candidate files — the merge never
    *    scales with table size, only with the delta's key-range
    *    footprint. Delta keys broadcast (delta ≪ table, the MERGE
    *    premise); the rewrite reads only touched files.
    *
    * Consistency: new files land under data/v2 (immutable, version-
    * addressed), the v2 manifest = carried v1 files + v2 files, and
    * the ATOMIC_MOVE rename is the only publish point — a crash
    * mid-merge leaves v1 intact and v2 unreferenced (garbage, not
    * corruption). EngineSpec "SNK10" pins v1-unchanged, the
    * exactly-touched-files property (every rewritten file contains a
    * delta key, every carried file contains none), candidate pruning
    * (touched ⊆ candidates, every candidate overlaps the delta key
    * range, every non-candidate provably contains no delta key), and
    * merged content against an independent batch reference. */
  private[graft] def snk10Run(s: SparkSession, dir: String): Snk10Result = {
    val root = snk10Root(dir)
    val ev = snapshotRows(Tables.events(s, dir))
    val v1m = snk9Publish(root, 1,
      ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions(col("event_id")))
    val v1Files = java.nio.file.Files
      .readString(java.nio.file.Paths.get(v1m))
      .split("\n").toSeq.filter(_.nonEmpty)
    val base = snk9ReadSnapshot(s, v1m)
    // writer-side stats publication: one column-pruned pass over the
    // just-written files (in production this folds into the write
    // task's own footer stats — the data is already range-sorted)
    val stats = base
      .groupBy(col("_metadata.file_path").as("fp"))
      .agg(min(col("event_id")).as("mn"), max(col("event_id")).as("mx"))
      .collect()
      .map(r => (new java.net.URI(r.getString(0)).getPath,
                 r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    writeKeyStats(root, 1, stats)
    // delta keys that MUTATE existing rows (updates ∪ deletes),
    // recent-skewed (top quarter of the key range — one exact-integer
    // comparison, no float quantile); inserts never touch a base file.
    // maxId and candidacy both come from the manifest stats — no scan.
    val maxId = stats.map(_._3).max
    val recentLo = (3L * maxId + 3) / 4 // id*4 >= 3*maxId ⇔ id >= ⌈3·maxId/4⌉
    val candidates = stats.filter { case (_, mn, mx) =>
      val a = math.max(mn, recentLo)
      hasMultiple(a, mx, 97L) || hasMultiple(a, mx, 101L)
    }.map(_._1)
    val recent = col("event_id") * 4 >= lit(3L * maxId)
    val isUpdate = col("event_id") % 97 === 0 && recent
    val isDelete = col("event_id") % 101 === 0 && col("event_id") % 97 =!= 0 &&
      recent
    // exact touched set: column-pruned probe over CANDIDATE files only
    val touched =
      if (candidates.isEmpty) Seq.empty[String]
      else readSnapshotFiles(s, candidates)
        .filter(isUpdate || isDelete)
        .select(col("_metadata.file_path").as("fp"))
        .distinct().collect().map(_.getString(0))
        .map(p => new java.net.URI(p).getPath).toSeq.sorted
    val touchedSet = touched.toSet
    val carried = v1Files.filterNot(touchedSet)
    // rewrite ONLY the touched files: delete, update, append inserts
    // (an empty touched set — a corpus whose recent quarter has no
    // mod-97/mod-101 key — degrades to an insert-only merge)
    val inserts = s.createDataFrame(Snk10InsertRows)
      .toDF("event_id", "user_id", "value", "event_type")
    val rewritten =
      if (touched.isEmpty) inserts
      else readSnapshotFiles(s, touched)
        .filter(!isDelete)
        .withColumn("value",
          when(isUpdate, col("value") + 1000.0d).otherwise(col("value")))
        .unionByName(inserts)
    val v2dir = root.resolve("data").resolve("v2")
    rewritten.write.mode("overwrite").parquet(v2dir.toString)
    val newFiles = listParquet(v2dir)
    val v2m = publishManifest(root, 2, carried ++ newFiles)
    Snk10Result(v1m, v2m, v1Files, touched, carried, newFiles, candidates)
  }

  /** Resolve a snapshot through its manifest — the reader path: no
    * directory listing anywhere, so concurrent compaction (new version
    * dirs) and torn writers (junk files) are invisible by
    * construction. */
  private[graft] def snk9ReadSnapshot(s: SparkSession,
                                      manifest: String): DataFrame = {
    val files = java.nio.file.Files
      .readString(java.nio.file.Paths.get(manifest))
      .split("\n").toSeq.filter(_.nonEmpty)
    readSnapshotFiles(s, files)
  }

  /** SNK8 two-predicate read-back — exposed for EngineSpec's
    * PushedFilters + bounding-box + scan-metric pins. */
  private[graft] def snk8Read(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Scratch.dir("snk8zorder", dir).toString)
      .filter(col("ts") >= lit(Snk7From).cast(TimestampType) &&
              col("ts") < lit(Snk7To).cast(TimestampType) &&
              col("value") >= lit(Snk8ValLo) &&
              col("value") < lit(Snk8ValHi))

  val oracle: Map[String, String] = Map(
    "src2_csv_roundtrip" ->
      """SELECT count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem""".stripMargin,
    "snk3_partitioned_roundtrip" ->
      """SELECT count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,
    // same totals as src2 — DuckDB reads the original parquet; the ORC
    // write/read must be lossless
    "src7_orc_roundtrip" ->
      """SELECT count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
        |FROM lineitem""".stripMargin,
    "src8_xml_roundtrip" ->
      """SELECT count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_ckey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
        |FROM orders""".stripMargin,
    "src3_json_roundtrip" ->
      """SELECT count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  CAST(min(ts) AS TIMESTAMP) AS min_ts,
        |  CAST(max(ts) AS TIMESTAMP) AS max_ts
        |FROM events""".stripMargin,
    // snk6 — DuckDB reads the ORIGINAL parquet; fragment + compact
    // must be lossless per partition
    "snk6_compaction" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // snk10 — the same keyed MERGE replayed in closed form over the
    // source table: update +1000 at id%97==0, delete id%101==0 (not
    // updated), append the 5 fixed insert rows; the engine answers
    // from the copy-on-write v2 manifest (carried + rewritten files)
    "snk10_merge" ->
      """WITH mx AS (SELECT max(event_id) AS m FROM events),
        |merged AS (
        |  SELECT event_id, user_id,
        |    CASE WHEN event_id % 97 = 0
        |              AND event_id * 4 >= 3 * (SELECT m FROM mx)
        |         THEN value + 1000 ELSE value END AS value,
        |    event_type
        |  FROM events
        |  WHERE NOT (event_id % 101 = 0 AND event_id % 97 <> 0
        |             AND event_id * 4 >= 3 * (SELECT m FROM mx))
        |  UNION ALL
        |  SELECT CAST(event_id AS BIGINT), CAST(user_id AS BIGINT),
        |    CAST(value AS DOUBLE), event_type
        |  FROM (VALUES
        |    (10000000, 9000, 0.5, 'insert'),
        |    (10000001, 9001, 1.5, 'insert'),
        |    (10000002, 9002, 2.5, 'insert'),
        |    (10000003, 9003, 3.5, 'insert'),
        |    (10000004, 9004, 4.5, 'insert'))
        |    AS ins(event_id, user_id, value, event_type))
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM merged GROUP BY event_type ORDER BY event_type""".stripMargin,
    // snk7 — DuckDB filters the ORIGINAL parquet with the same fixed
    // slice; the sorted rewrite + pruned read must be lossless
    "snk7_sorted_skip" ->
      s"""SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(min(ts) AS TIMESTAMP) AS min_ts,
        |  CAST(max(ts) AS TIMESTAMP) AS max_ts,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '$Snk7From' AND ts < TIMESTAMP '$Snk7To'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // snk8 — the two-predicate probe box over the ORIGINAL table; the
    // engine answers it from the z-ordered rewrite, so a row lost,
    // doubled, or over-pruned by the layout breaks the hash.
    "snk8_zorder_skip" ->
      s"""SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '$Snk7From' AND ts < TIMESTAMP '$Snk7To'
        |  AND value >= $Snk8ValLo AND value < $Snk8ValHi
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // j17 — the runtime dim subset replayed: types whose min event_id
    // is even.
    "j17_dpp" ->
      """WITH d17 AS (
        |  SELECT event_type FROM events
        |  GROUP BY event_type HAVING min(event_id) % 2 = 0)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(e.event_id) AS BIGINT) AS sum_id,
        |  CAST(sum(e.user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events e JOIN d17 ON e.event_type = d17.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // snk9 — the latest snapshot must carry exactly the original rows:
    // any torn/doubled file surviving the manifest protocol breaks the
    // hash.
    "snk9_snapshot_publish" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // src9 — the generation split replayed arithmetically: the evolved
    // column exists only for odd orderkeys (generation 2).
    "src9_schema_evolution" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CASE WHEN l_orderkey % 2 = 1
        |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE)
        |    AS sum_price,
        |  CAST(count(CASE WHEN l_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
        |    AS n_evolved
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
