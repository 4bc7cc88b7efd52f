package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Multi-batch replay fixtures for the S-series (SURVEY §2.9, FIXTURES.md
  * "Streaming fixtures to DERIVE"). The `events` table is split into
  * NUM_FILES parquet files of contiguous `event_id` ranges; read back with
  * `maxFilesPerTrigger=1` + `Trigger.AvailableNow` this gives
  * deterministic batch boundaries, hence a deterministic watermark
  * trajectory (file order is pinned by explicit 1-second-apart mtimes —
  * FileStreamSource orders by modification time).
  *
  * Variants (declared row selections, reproducible in oracle SQL):
  *  - clean: ts-ordered replay (the data is ts-ordered in event_id order).
  *  - late:  rows with event_id % 97 == 0 are moved TWO files later than
  *           their id-order position (capped at the last file). Two files
  *           is the minimum that crosses the eviction horizon: Spark's
  *           micro-batch watermark commit lags one batch (input filtering
  *           for batch b uses max event time of batches ≤ b−2 minus the
  *           delay; eviction at end of batch b uses batches ≤ b−1), so
  *           one-file-late rows always land while their window is still
  *           in state and are merged, not dropped (verified empirically —
  *           numRowsDroppedByWatermark stays 0 at one file).
  *  - dup:   rows with event_id % 101 == 0 are COPIED one file later —
  *           exercises streaming dedup.
  *  - ooo:   rows with event_id % 2 == 0 whose ts falls in the final
  *           23 HOURS of their file's time span are moved ONE file later
  *           (capped at the last file) — the bounded-disorder fixture for
  *           the watermark-reordering S20b/S4c/S21b trio, which declares
  *           a 24 h delay ([[OooDelay]]). 23 < 24 keeps every displaced
  *           row ABOVE the operative watermark at its arrival batch
  *           (wm(b) ≤ arrived-max(≤ b−1) − 24 h < fmax(file b−1) − 23 h
  *           < ts), so nothing is dropped by Spark's late filter and
  *           nothing arrives below the reorder buffer's flush bound —
  *           the replay is content-identical to clean, only disordered,
  *           and event-time semantics make the results replay-order-
  *           invariant (the StreamingSpec equality pin). The 10-minute
  *           `late` variant cannot serve here: this corpus averages
  *           minutes between events, so a sub-delay displacement window
  *           of 10 min would move ~1 row per boundary (vacuous).
  *  - ooolate: the `ooo` rule PLUS a deterministic BEYOND-DELAY subset:
  *           rows with event_id % 23 == 5 that are OLDER than
  *           fmax(file) − 24 h also move one file later. At their
  *           arrival batch b+1 the operative watermark is
  *           floor-ms(max ts arrived ≤ b) − 24 h ≥ (their own file's
  *           surviving max) − 24 h > their ts, so the reorder buffer
  *           must take its LATE-DROP branch — the fixture that makes
  *           the side-output path (S24) positively testable. They still
  *           clear Spark's LAGGING input filter (at arrival batch b+1
  *           it uses batches ≤ b−1, all strictly BEFORE their own file
  *           b: ts ≥ fmin(b) ≥ fmax(b−1) ≥ that filter basis
  *           ≫ basis − 24 h), so every displaced row reaches the
  *           processor — none vanish silently upstream. Boundary rows
  *           in the (surviving-max, fmax] − 24 h sliver land ABOVE the
  *           watermark and are merely buffered — harmless, and the
  *           oracle applies the exact per-row predicate either way.
  *  - funnel: rows with event_id % 211 ∈ {0, 95, 190} are rewritten into
  *           synthetic view→click→purchase chains (chain g = event_id/211
  *           gets user FunnelUserBase+g, timestamps base + 2h·g + 10min·member)
  *           so the S8 funnel provably fires: the natural corpus has ZERO
  *           conversions below sf0.1, which made the round-2 S8 oracle
  *           match vacuous (0 = 0). Pure per-row arithmetic on event_id —
  *           the oracle SQL reproduces the rewrite exactly. The 95-id
  *           member spacing makes chains straddle batch-file boundaries,
  *           so conversion state is genuinely carried across micro-batches.
  */
object Replayer {
  val NumFiles = 5
  val WatermarkDelay = "10 minutes"

  /** Watermark delay of the out-of-order trio (S20b/S4c/S21b): the
    * declared maximum disorder. Must stay STRICTLY above the `ooo`
    * variant's 23 h displacement window (see the variant note). */
  val OooDelay = "24 hours"
  val OooDelayMs = 24L * 3600 * 1000

  /** Root for derived fixtures; keyed by sf dir so scales don't collide.
    * The version suffix invalidates fixtures derived by earlier builds
    * whenever a variant's rewrite rule changes (the _DONE marker would
    * otherwise happily serve stale data). */
  private def root(sfDir: String): Path = {
    val key = sfDir.replaceAll("[^a-zA-Z0-9.]", "_")
    Paths.get(sys.props("java.io.tmpdir"), "graft_fixtures_v2", key)
  }

  /** Hash of a source table's file fingerprint
    * ([[graft.core.BuildOnce.fingerprint]]: every file's path, size and
    * mtime). The testdata can be regenerated IN PLACE (same path, new
    * files), and a fixture keyed by path alone would keep serving the
    * OLD data under its _DONE marker — the oracle hash would catch it,
    * but as a cryptic mismatch rather than a rebuild. Folding the
    * fingerprint into the fixture dir name makes regeneration force a
    * rebuild automatically. */
  private def fingerprint(sfDir: String, table: String): String =
    f"${scala.util.hashing.MurmurHash3.stringHash(
      graft.core.BuildOnce.fingerprint(sfDir, table))}%08x"

  /** Resolve (and stale-sweep) the fingerprinted dir for one variant:
    * `<root>/<variant>-<fp>`; sibling dirs of the same variant with a
    * different fingerprint are leftovers of a regenerated source and are
    * deleted (best-effort — a racing process may have swept already). */
  private def variantDir(sfDir: String, variant: String,
                         table: String): Path = {
    val r = root(sfDir)
    val fp = fingerprint(sfDir, table)
    val dir = r.resolve(s"$variant-$fp")
    if (Files.isDirectory(r)) {
      val l = Files.list(r)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            // fingerprinted siblings of another generation, plus bare
            // `variant` dirs left by pre-fingerprint builds
            (n.startsWith(variant + "-") || n == variant) && p != dir
          }
          .foreach { stale =>
            try deleteTree(stale) catch { case _: Throwable => }
          }
      } finally l.close()
    }
    dir
  }

  /** Batch index of an event in the given variant (same rule as oracle
    * SQL): base = floor(event_id / ceil(n/NumFiles)); late rows move TWO
    * files later (capped) — see the eviction-horizon note above. */
  def batchExpr(n: Long, late: Boolean) = {
    val b = (n + NumFiles - 1) / NumFiles
    val base = floor(col("event_id") / b).cast("int")
    if (late)
      least(base + when(col("event_id") % 97 === 0, 2).otherwise(0),
            lit(NumFiles - 1))
    else least(base, lit(NumFiles - 1))
  }

  /** Synthetic funnel-chain user-id offset: provably above any natural
    * user_id at any scale factor (natural ids ≈ n/66, so 1e9 is safe past
    * sf100000) — a collision would let natural far-future events prune an
    * injected chain's state mid-batch, diverging from the
    * order-independent oracle SQL. */
  val FunnelUserBase = 1000000000L

  /** Ensure a fixture variant exists; returns its directory. */
  def ensure(s: SparkSession, sfDir: String, variant: String): String = synchronized {
    require(Set("clean", "late", "dup", "dup10", "funnel", "ooo",
        "ooolate", "refire", "shift48", "shift48stop")(variant),
      s"unknown replay variant: $variant")
    fixture(variantDir(sfDir, variant, "events")) {
      val ev = Tables.events(s, sfDir)
      val n = ev.count()
      variant match {
        case "clean" => ev.withColumn("b", batchExpr(n, late = false))
        case "late"  => ev.withColumn("b", batchExpr(n, late = true))
        case "ooo" =>
          // even-id rows in the last 23 h of their id-order file move one
          // file later (capped): bounded disorder < the 24 h OooDelay
          val w = org.apache.spark.sql.expressions.Window.partitionBy(col("b0"))
          ev.withColumn("b0", batchExpr(n, late = false))
            .withColumn("fmax", max(col("ts")).over(w))
            .withColumn("b", least(
              col("b0") + when(col("event_id") % 2 === 0 &&
                col("ts") > col("fmax") - expr("INTERVAL 23 HOUR"), 1)
                .otherwise(0),
              lit(NumFiles - 1)))
            .drop("b0", "fmax")
        case "ooolate" =>
          // the ooo rule PLUS the beyond-delay subset (see the variant
          // note): % 23 == 5 rows older than fmax − 24 h also move one
          // file later — guaranteed below the operative watermark at
          // arrival, so the reorder buffer's late-drop branch fires
          val w = org.apache.spark.sql.expressions.Window.partitionBy(col("b0"))
          ev.withColumn("b0", batchExpr(n, late = false))
            .withColumn("fmax", max(col("ts")).over(w))
            .withColumn("b", least(
              col("b0") + when(
                (col("event_id") % 2 === 0 &&
                  col("ts") > col("fmax") - expr("INTERVAL 23 HOUR")) ||
                (col("event_id") % 23 === 5 &&
                  col("ts") <= col("fmax") - expr("INTERVAL 24 HOUR")), 1)
                .otherwise(0),
              lit(NumFiles - 1)))
            .drop("b0", "fmax")
        case "refire" =>
          // TIME-SPLIT files + controlled displacement for the
          // allowed-lateness triad (S29). Id-contiguous files cannot
          // exercise a window RE-FIRE: the input-filter basis for
          // batch b equals the operative watermark of batch b−1, so a
          // visible window-late row's window can never have fired
          // before its own arrival batch, and the ~6-day watermark
          // jumps dwarf any allowance that still leaves a beyond-
          // allowance channel. This variant splits by TIME instead —
          // one big head file, then four 1-day tail files (boundaries
          // hang off floor-day(max ts), so the rule is closed-form) —
          // giving 1-day watermark steps under S29's 48 h allowance,
          // and displaces three closed-form subsets:
          //  - %3==1 rows in the 25 h before the head/tail boundary
          //    move to file 3 → they arrive AFTER their window fired
          //    (at batch 2, under the 72 h outer delay) while still
          //    inside the allowance — the genuine re-fire fodder;
          //  - %3==1 rows in the 25 h before the next boundary move to
          //    file 4 — the same shape one batch later;
          //  - %5==2 rows at least 80 h before the head boundary move
          //    to file 1 — beyond the allowance at arrival, the late
          //    side channel (80 h > 72 h outer delay + margin for the
          //    displacement-lowered head-file max).
          // All displaced rows stay above Spark's lag-2 input-filter
          // basis (verified: zero below-basis rows at every shipped
          // sf), so every row reaches the processor.
          val mdf = ev.select(
            date_trunc("day", max(col("ts"))).as("md"))
          ev.crossJoin(mdf)
            .withColumn("nb",
              when(col("ts") < col("md") - expr("INTERVAL 4 DAY"), 0)
                .when(col("ts") < col("md") - expr("INTERVAL 3 DAY"), 1)
                .when(col("ts") < col("md") - expr("INTERVAL 2 DAY"), 2)
                .when(col("ts") < col("md") - expr("INTERVAL 1 DAY"), 3)
                .otherwise(4))
            .withColumn("b",
              when(col("event_id") % 3 === 1 &&
                col("ts") > col("md") - expr("INTERVAL 4 DAY") -
                  expr("INTERVAL 25 HOUR") &&
                col("ts") < col("md") - expr("INTERVAL 4 DAY"), 3)
              .when(col("event_id") % 3 === 1 &&
                col("ts") > col("md") - expr("INTERVAL 3 DAY") -
                  expr("INTERVAL 25 HOUR") &&
                col("ts") < col("md") - expr("INTERVAL 3 DAY"), 4)
              .when(col("event_id") % 5 === 2 &&
                col("ts") <= col("md") - expr("INTERVAL 4 DAY") -
                  expr("INTERVAL 80 HOUR"), 1)
              .otherwise(col("nb")))
            .drop("nb", "md")
        case "shift48" =>
          // S34's LAGGARD source: the clean replay with every event
          // time shifted 48 h earlier (same id-order file assignment)
          // — a second stream whose event-time range trails the first
          // by two days, the skewed-sources fixture for watermark
          // alignment. Pure column arithmetic; the oracle reproduces
          // it as ts − INTERVAL 48 HOUR.
          ev.withColumn("ts", col("ts") - expr("INTERVAL 48 HOUR"))
            .withColumn("b", batchExpr(n, late = false))
        case "shift48stop" =>
          // The laggard that STOPS: shift48 rows of the first TWO
          // files only; files 2–4 are written EMPTY (the source stays
          // registered and keeps pairing with the fast stream's
          // triggers — it simply delivers nothing, Flink's idle-source
          // shape). Drives the S34 stall pin and the S34b idleness
          // dial.
          ev.filter(batchExpr(n, late = false) <= 1)
            .withColumn("ts", col("ts") - expr("INTERVAL 48 HOUR"))
            .withColumn("b", batchExpr(n, late = false))
        case "dup" =>
          val base = ev.withColumn("b", batchExpr(n, late = false))
          val dups = ev.filter(col("event_id") % 101 === 0)
            .withColumn("b", least(batchExpr(n, late = false) + 1,
                                   lit(NumFiles - 1)))
          base.unionByName(dups)
        case "dup10" =>
          // EVERY event re-sent 9 more times, copy i landing i files
          // later (capped at the last file) — 10× the ingested rows over
          // the same 1× distinct keys, the bounded-state stress fixture
          // (StreamingSpec's S11 plateau pin). Copies whose ts has
          // fallen behind the watermark by arrival time are late rows
          // and are dropped before the dedup store — exactly the
          // production behavior the pin quantifies.
          val base = ev.withColumn("b", batchExpr(n, late = false))
          (1 to 9).map(i => ev.withColumn("b",
              least(batchExpr(n, late = false) + i, lit(NumFiles - 1))))
            .foldLeft(base)(_ unionByName _)
        case "funnel" =>
          // chain g = event_id/211; members at offsets {0,95,190} become
          // view/click/purchase of synthetic user FunnelUserBase+g at
          // 2024-03-01 + 2h·g + 10min·(offset/95) — epoch 1709251200.
          val m = col("event_id") % 211
          val g = floor(col("event_id") / 211).cast("long")
          val isChain = m.isin(0, 95, 190)
          ev.withColumn("user_id",
              when(isChain, lit(FunnelUserBase) + g).otherwise(col("user_id")))
            .withColumn("ts",
              when(isChain, timestamp_seconds(
                lit(1709251200L) + g * 7200L +
                  floor(m / 95).cast("long") * 600L))
                .otherwise(col("ts")))
            .withColumn("event_type",
              when(m === 0, "view").when(m === 95, "click")
                .when(m === 190, "purchase").otherwise(col("event_type")))
            .withColumn("b", batchExpr(n, late = false))
      }
    }
  }

  /** The fixture shell every `ensure*` shares: build `dir` from the
    * `b`-batched frame unless its _DONE marker exists; returns the dir. */
  private def fixture(dir: Path)(batched: => DataFrame): String = {
    val done = dir.resolve("_DONE")
    if (!Files.exists(done)) {
      Files.createDirectories(dir)
      writeBatches(dir, batched)
      Files.createFile(done)
    }
    dir.toString
  }

  /** `df` split into NumFiles contiguous ranges of the id column `id`. */
  private def byIdRange(df: DataFrame, id: String): DataFrame = {
    val b = (df.count() + NumFiles - 1) / NumFiles
    df.withColumn("b", least(floor(col(id) / b).cast("int"), lit(NumFiles - 1)))
  }

  /** Materialize a `b`-batched frame as NumFiles mtime-ordered parquet
    * files (the replay layout). Shared by the events variants and the
    * documents fixture. */
  private def writeBatches(dir: Path, batched: DataFrame): Unit = {
    batched.cache()
    try {
      (0 until NumFiles).foreach { i =>
        val tmp = dir.resolve(s"stage$i").toString
        batched.filter(col("b") === i).drop("b")
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val listed = Files.list(Paths.get(tmp))
        val part = try listed.filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        finally listed.close()
        val target = dir.resolve(f"batch$i%02d.parquet")
        Files.move(part, target)
        // pin replay order: FileStreamSource sorts by mtime
        Files.setLastModifiedTime(target, FileTime.fromMillis(1000000000000L + i * 1000L))
        deleteTree(Paths.get(tmp)) // clean staging dir
      }
    } finally batched.unpersist()
  }

  /** Documents replay fixture (S12 streaming ingestion): NumFiles
    * contiguous doc_id-range files, mtime-ordered — the corpus arriving
    * in five deterministic batches. Same _DONE/immutability contract as
    * the events variants. */
  def ensureDocs(s: SparkSession, sfDir: String): String = synchronized {
    fixture(variantDir(sfDir, "docs", "documents")) {
      byIdRange(Tables.documents(s, sfDir), "doc_id")
    }
  }

  /** Embeddings replay fixture (S35 streaming vector-index refresh):
    * NumFiles contiguous vec_id-range files, mtime-ordered — vectors
    * arriving in five deterministic batches. Same _DONE/immutability
    * contract as the events variants. */
  def ensureEmbeds(s: SparkSession, sfDir: String): String = synchronized {
    fixture(variantDir(sfDir, "embeds", "embeddings")) {
      byIdRange(Tables.embeddings(s, sfDir), "vec_id")
    }
  }

  /** Open the embeddings fixture as a file-source stream, one file per
    * micro-batch. */
  def streamEmbeds(s: SparkSession, sfDir: String): DataFrame =
    open(s, ensureEmbeds(s, sfDir))

  /** Open the documents fixture as a file-source stream, one file per
    * micro-batch. */
  def streamDocs(s: SparkSession, sfDir: String): DataFrame =
    open(s, ensureDocs(s, sfDir))

  /** Recursively delete, closing the walk stream (a leaked stream holds a
    * directory fd until GC). */
  private[streaming] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** Open a fixture dir as a file-source stream (SRC4), one file per
    * micro-batch. */
  def stream(s: SparkSession, sfDir: String, variant: String): DataFrame =
    open(s, ensure(s, sfDir, variant))

  /** The stream opener every `stream*` shares: `dir` as a file-source
    * stream, one file per micro-batch. Its schema is inferred once per
    * fixture version ([[graft.core.BuildOnce]], keyed by the dir's file
    * fingerprint), so a timed replay pays no footer-read job. */
  private def open(s: SparkSession, dir: String): DataFrame = {
    val schema =
      graft.core.BuildOnce("replay-schema", (), dir)(s.read.parquet(dir).schema)
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
  }

  /** Fresh checkpoint dir for one streaming run. Prefers tmpfs
    * (/dev/shm): checkpoint commits are many small synchronous writes
    * (offset log, commit log, one delta file per state store per batch),
    * so memory-backed storage removes the fsync tax from every
    * micro-batch. Durability is irrelevant here — each run starts from a
    * fresh checkpoint; a production deployment points this at HDFS/S3.
    * Falls back to java.io.tmpdir when /dev/shm is absent or low on
    * space (containers commonly cap it at 64 MB), and callers delete the
    * dir after query termination via [[dropCheckpoint]] so repeated runs
    * never accumulate state in RAM-backed tmpfs. */
  def checkpoint(): String = {
    val shm = Paths.get("/dev/shm")
    val base = if (Files.isDirectory(shm) && Files.isWritable(shm) &&
                   shm.toFile.getUsableSpace > 64L * 1024 * 1024) {
      val d = shm.resolve("graft_ckpt"); Files.createDirectories(d); d
    } else Paths.get(sys.props("java.io.tmpdir"))
    Files.createTempDirectory(base, "ckpt").toString
  }

  /** Recursively delete a checkpoint dir created by [[checkpoint]]. */
  def dropCheckpoint(dir: String): Unit = deleteTree(Paths.get(dir))
}
