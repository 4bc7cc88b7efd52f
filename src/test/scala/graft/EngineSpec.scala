package graft

import org.scalatest.funsuite.AnyFunSuite

/** E1 entry point: ANSI SQL over the registered views must agree with the
  * DataFrame-API library on the same semantics.
  */
class EngineSpec extends AnyFunSuite {
  private val s = TestSpark.spark

  test("Engine.sql answers the revenue-per-region query (= J1)") {
    Engine.open(s, TestSpark.Sf)
    val viaSql = Engine.sql(s,
      """SELECT r_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
      .collect().map(_.toString).toSeq
    val viaApi = SparkEntry.queries("j1_inner")(s, TestSpark.Sf)
      .collect().map(_.toString).toSeq
    assert(viaSql == viaApi)
  }

  test("Engine.sql reaches events (nanos fix applies to the view) and graft_dot") {
    Engine.open(s, TestSpark.Sf)
    val n = Engine.sql(s,
      "SELECT count(*) FROM events WHERE hour(ts) = 0").collect()(0).getLong(0)
    assert(n > 0)
    assert(Engine.sql(s, "SELECT graft_dot(array(3L), array(14L))")
      .collect()(0).getLong(0) == 42L)
  }

  test("Engine.sql calls the registered scalar UDF (X1 from SQL text)") {
    Engine.open(s, TestSpark.Sf)
    val viaSql = Engine.sql(s,
      """SELECT doc_id, slugify(concat_ws('_', lang, source)) AS slug
        |FROM documents ORDER BY doc_id""".stripMargin)
      .collect().map(_.toString).toSeq
    val viaApi = SparkEntry.queries("x1_udf")(s, TestSpark.Sf)
      .collect().map(_.toString).toSeq
    assert(viaSql == viaApi && viaSql.nonEmpty)
  }

  test("Engine.open twice keeps the first slugify registration") {
    val c = s.newSession()
    def builder = c.sessionState.functionRegistry.lookupFunctionBuilder(
      org.apache.spark.sql.catalyst.FunctionIdentifier("slugify"))
    Engine.open(c, TestSpark.Sf)
    val first = builder
    assert(first.isDefined, "Engine.open registered no slugify")
    Engine.open(c, TestSpark.Sf)
    assert(builder.exists(_ eq first.get),
      "the second Engine.open replaced slugify")
  }

  test("salting pattern: skew-safe join equals the plain join") {
    import org.apache.spark.sql.functions._
    // 100 TB pattern: a hot key (here: the most common nationkey) is
    // salted N ways on the fact side; the dim side explodes every salt.
    // Results must be identical to the unsalted join.
    val n = 8
    val cust = graft.core.Tables.customer(s, TestSpark.Sf)
      .withColumn("salt", (col("c_custkey") % n).cast("int"))
    val nat = graft.core.Tables.nation(s, TestSpark.Sf)
      .withColumn("salt", explode(array((0 until n).map(lit): _*)))
    val salted = cust.join(nat,
        cust("c_nationkey") === nat("n_nationkey") &&
          cust("salt") === nat("salt"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).toSet
    val plain = graft.core.Tables.customer(s, TestSpark.Sf)
      .join(graft.core.Tables.nation(s, TestSpark.Sf),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).toSet
    assert(salted == plain && plain.nonEmpty)
  }

  test("SNK6: compaction collapses every partition to one file, drops " +
       "no bytes of content, and leaves other partitions' layout alone") {
    // run the canonical query (stages fragment + compacted copies in
    // this JVM's pid-scoped staging root), then audit the layout
    val out = SparkEntry.queries("snk6_compaction")(s, TestSpark.Sf)
      .collect()
    assert(out.nonEmpty)
    def staged(kind: String) = graft.core.Scratch.dir(kind, TestSpark.Sf)
    def partFiles(kind: String): Map[String, Int] = {
      val base = staged(kind)
      assert(java.nio.file.Files.isDirectory(base), s"missing $base")
      import scala.jdk.CollectionConverters._
      val ls = java.nio.file.Files.list(base)
      try ls.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("event_type="))
        .map { p =>
          val fl = java.nio.file.Files.list(p)
          try p.getFileName.toString -> fl.iterator().asScala
            .count(_.getFileName.toString.endsWith(".parquet"))
          finally fl.close()
        }.toMap
      finally ls.close()
    }
    val frag = partFiles("snk6frag")
    val comp = partFiles("snk6comp")
    assert(frag.keySet == comp.keySet, s"partition sets differ: " +
      s"${frag.keySet} vs ${comp.keySet}")
    assert(frag.values.forall(_ > 1),
      s"fragmented table is not fragmented: $frag")
    assert(comp.values.forall(_ == 1),
      s"compaction left multiple files somewhere: $comp")
    // content identity beyond the checksum columns: full row-set equal
    val a = s.read.parquet(staged("snk6frag").toString)
      .collect().map(_.toString).sorted
    val b = s.read.parquet(staged("snk6comp").toString)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b), "row sets differ between fragment and compact")
  }

  test("SNK7: range-partitioned sorted layout gives pairwise-disjoint " +
       "per-file ts ranges; the slice predicate reaches PushedFilters " +
       "and the scan decodes only a fraction of the table") {
    import graft.queries.SourcesSinks
    import org.apache.spark.sql.functions.{min, max}
    val path = SourcesSinks.snk7Write(s, TestSpark.Sf)
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    val files =
      try ls.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally ls.close()
    assert(files.length >= 4, s"expected ≥4 range files, got ${files.length}")
    // disjoint, clustered layout: file ts ranges must not overlap
    // (RangePartitioner keeps equal keys together, so strictly <)
    val ranges = files.map { f =>
      val r = s.read.parquet(f)
        .agg(min("ts").cast("string"), max("ts").cast("string")).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._2 < b._1, s"overlapping file ranges $a / $b")
      case _ => ()
    }
    // the probe: predicate pushed to the scan, row groups skipped
    val df = SourcesSinks.snk7Read(s, TestSpark.Sf)
    val matched = df.collect().length.toLong
    val plan = df.queryExecution.executedPlan
    val planStr = plan.toString
    assert(planStr.contains("PushedFilters") &&
           planStr.contains("GreaterThanOrEqual(ts"),
      s"ts predicate did not reach PushedFilters:\n${planStr.take(1200)}")
    val scan = plan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec leaf in the probe plan"))
    val scanRows = scan.metrics("numOutputRows").value
    val total = s.read.parquet(path).count()
    assert(matched > 0 && matched < total,
      s"probe slice is degenerate ($matched of $total)")
    assert(scanRows < total,
      s"scan decoded every row ($scanRows of $total) — footer-stats " +
      "skipping never engaged; the sorted layout is not doing its job")
    assert(scanRows >= matched,
      s"scan emitted fewer rows ($scanRows) than matched ($matched)")
  }

  test("SNK8: the Morton interleave is bit-exact; z-ordered files cover " +
       "compact (ts, value) rectangles so the 2-D probe box intersects " +
       "only a minority of them; both predicates reach PushedFilters " +
       "and the scan decodes a fraction") {
    import graft.queries.SourcesSinks
    import org.apache.spark.sql.functions.{col, lit, min, max, unix_micros}
    // known-value pin: ba=0b10101 (21) → odd z-bits 9,5,1; bb=0b01010
    // (10) → even z-bits 6,2 ⇒ z = 546 | 68 = 614; plus the corners
    val zed = s.range(1)
      .select(
        SourcesSinks.zInterleave5(lit(21L), lit(10L)).as("a"),
        SourcesSinks.zInterleave5(lit(0L), lit(0L)).as("b"),
        SourcesSinks.zInterleave5(lit(31L), lit(31L)).as("c")).head()
    assert(zed.getLong(0) == 614L, s"z(21,10) = ${zed.getLong(0)}, want 614")
    assert(zed.getLong(1) == 0L && zed.getLong(2) == 1023L,
      "z corners wrong: z(0,0) must be 0, z(31,31) must be 1023")

    val path = SourcesSinks.snk8Write(s, TestSpark.Sf)
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(path))
    val files =
      try ls.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq
      finally ls.close()
    assert(files.length >= 4, s"expected ≥4 z-range files, got ${files.length}")
    // per-file 2-D bounding boxes vs the probe box: the z-layout's
    // whole point is that a box predicate touches FEW files — a
    // single-key ts sort would put every value range in every file
    val tsLo = java.sql.Timestamp.valueOf(SourcesSinks.Snk7From).getTime
    val tsHi = java.sql.Timestamp.valueOf(SourcesSinks.Snk7To).getTime
    val boxes = files.map { f =>
      val r = s.read.parquet(f).agg(
        min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        min(col("value")), max(col("value"))).head()
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
    }
    val hit = boxes.count { case (tl, th, vl, vh) =>
      th >= tsLo * 1000L && tl < tsHi * 1000L &&
        vh >= SourcesSinks.Snk8ValLo && vl < SourcesSinks.Snk8ValHi
    }
    assert(hit > 0, "no file box intersects the probe — probe degenerate")
    assert(hit * 2 <= files.length,
      s"$hit of ${files.length} file boxes intersect the probe box — " +
      "the z-layout is not clustering both dimensions")

    val df = SourcesSinks.snk8Read(s, TestSpark.Sf)
    val matched = df.collect().length.toLong
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec leaf in the probe plan"))
    // the rendered plan truncates PushedFilters — read the scan's own
    // untruncated metadata entry
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(ts") &&
           pushed.contains("GreaterThanOrEqual(value"),
      s"both predicates must reach PushedFilters: $pushed")
    val scanRows = scan.metrics("numOutputRows").value
    val total = s.read.parquet(path).count()
    assert(matched > 0 && matched < total,
      s"probe box is degenerate ($matched of $total)")
    assert(scanRows < total,
      s"scan decoded every row ($scanRows of $total) — footer-stats " +
      "skipping never engaged on the z-layout")
    assert(scanRows >= matched,
      s"scan emitted fewer rows ($scanRows) than matched ($matched)")
  }

  test("SRC9: generation-1 files physically lack the evolved column; " +
       "the merged read unions the schemas with the per-generation " +
       "null pattern") {
    import org.apache.spark.sql.functions.col
    // the query writes the staging layout as a side effect
    SparkEntry.queries("src9_schema_evolution")(s, TestSpark.Sf).collect()
    val base = graft.core.Scratch.dir("src9evolve", TestSpark.Sf).toString
    val gen1 = s.read.parquet(base + "/gen=1")
    assert(!gen1.columns.contains("l_extendedprice"),
      s"gen-1 files must PHYSICALLY lack the evolved column, " +
      s"got ${gen1.columns.mkString(",")}")
    val merged = s.read.option("mergeSchema", "true").parquet(base)
    assert(merged.columns.contains("l_extendedprice") &&
           merged.columns.contains("gen"),
      s"merged schema must union the generations and discover the " +
      s"partition column, got ${merged.columns.mkString(",")}")
    val nulls = merged.groupBy(col("gen"))
      .agg(org.apache.spark.sql.functions.count(col("l_extendedprice"))
        .as("nn"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(nulls(1)._1 == 0L && nulls(1)._2 > 0L,
      s"every gen-1 row must read the evolved column as NULL: $nulls")
    assert(nulls(2)._1 == nulls(2)._2 && nulls(2)._2 > 0L,
      s"every gen-2 row must carry the evolved column: $nulls")
  }

  test("SNK10: copy-on-write MERGE rewrites exactly the delta-touched " +
       "files, v1 reads unchanged after v2 publishes, and the merged " +
       "snapshot equals an independent batch reference") {
    import graft.queries.SourcesSinks
    import org.apache.spark.sql.functions.{col, lit, when}
    val r = SourcesSinks.snk10Run(s, TestSpark.Sf)
    // non-vacuous copy-on-write: some files rewritten, some carried
    assert(r.touchedFiles.nonEmpty, "no touched files — merge vacuous")
    assert(r.carriedFiles.nonEmpty,
      "every file touched — copy-on-write degenerated to full rewrite")
    assert(r.touchedFiles.size + r.carriedFiles.size == r.v1Files.size &&
           (r.touchedFiles ++ r.carriedFiles).toSet == r.v1Files.toSet,
      "touched ∪ carried is not a partition of v1's file set")
    assert(r.newFiles.forall(f => !r.v1Files.contains(f)),
      "a v2 data file collides with a v1 path — versions not immutable")
    // v1 is byte-for-byte intact: reads exactly the original table
    val orig = graft.core.Tables.events(s, TestSpark.Sf)
      .select(col("event_id"), col("user_id"), col("value"),
        col("event_type"))
    val v1 = SourcesSinks.snk9ReadSnapshot(s, r.v1Manifest)
    assert(v1.exceptAll(orig).isEmpty && orig.exceptAll(v1).isEmpty,
      "v1 snapshot diverged from the source after the merge published")
    // exactly-touched: a carried file contains NO mutating delta key...
    val maxId = orig.agg(org.apache.spark.sql.functions.max(
      col("event_id"))).head().getLong(0)
    val recent = col("event_id") * 4 >= lit(3L * maxId)
    val isDeltaKey = (col("event_id") % 97 === 0 ||
      col("event_id") % 101 === 0) && recent
    assert(s.read.parquet(r.carriedFiles: _*).filter(isDeltaKey)
        .count() == 0L,
      "a carried file contains a delta key — under-rewrite")
    // ...and every touched file contains at least one (no over-rewrite)
    val touchedWithKeys = s.read.parquet(r.touchedFiles: _*)
      .filter(isDeltaKey)
      .select(col("_metadata.file_path")).distinct()
      .collect().map(x => new java.net.URI(x.getString(0)).getPath).toSet
    assert(touchedWithKeys == r.touchedFiles.toSet,
      s"over-rewrite: ${r.touchedFiles.toSet -- touchedWithKeys} " +
      "rewritten without containing any delta key")
    // r17 manifest-side pruning pins: the exact touched set refines the
    // stats-derived candidates (never the whole table)...
    assert(r.touchedFiles.toSet.subsetOf(r.candidateFiles.toSet),
      "a touched file was not a stats candidate — the pruning under-read")
    assert(r.candidateFiles.toSet.subsetOf(r.v1Files.toSet))
    // ...every candidate's persisted key range overlaps the delta's
    // recent range (zero files outside the delta key range are opened)
    val statsPath = java.nio.file.Paths.get(r.v1Manifest)
      .getParent.resolve("v1.stats").toString
    val stats = SourcesSinks.readKeyStats(statsPath)
    assert(stats.map(_._1).toSet == r.v1Files.toSet,
      "stats sidecar does not cover exactly v1's files")
    val recentLo = (3L * maxId + 3) / 4
    val byFile = stats.map(t => t._1 -> (t._2, t._3)).toMap
    r.candidateFiles.foreach { f =>
      assert(byFile(f)._2 >= recentLo,
        s"candidate $f has max ${byFile(f)._2} below the recent range " +
        s"start $recentLo — opened a file the delta cannot touch")
    }
    // ...the sidecar's (min,max) are the files' true key extremes...
    val trueStats = s.read.parquet(r.v1Files: _*)
      .groupBy(col("_metadata.file_path"))
      .agg(org.apache.spark.sql.functions.min(col("event_id")),
           org.apache.spark.sql.functions.max(col("event_id")))
      .collect()
      .map(x => new java.net.URI(x.getString(0)).getPath ->
        (x.getLong(1), x.getLong(2))).toMap
    assert(trueStats == byFile, "persisted key stats diverge from the files")
    // ...and every NON-candidate provably contains no delta key (the
    // arithmetic never under-prunes) — content-checked, not just range
    val nonCandidates = r.v1Files.filterNot(r.candidateFiles.toSet)
    assert(nonCandidates.nonEmpty, "every file is a candidate — the " +
      "range-clustered layout should exclude the older three quarters")
    assert(
      s.read.parquet(nonCandidates: _*).filter(isDeltaKey).count() == 0L,
      "a non-candidate file contains a delta key — stats pruning wrong")
    // the touched-file probe's scan is column-pruned to the merge key
    // alone — the 100 TB claim (the probe reads ONE int64 column of
    // the CANDIDATES, never the payload): reconstruct the probe shape
    // and pin its ReadSchema
    val probe = s.read.parquet(r.candidateFiles: _*)
      .filter(isDeltaKey)
      .select(col("_metadata.file_path")).distinct()
    val rsch = "ReadSchema: ([^\\n]*)".r
      .findFirstMatchIn(probe.queryExecution.executedPlan.toString)
      .map(_.group(1)).getOrElse("?")
    assert(rsch.contains("event_id") && !rsch.contains("value") &&
           !rsch.contains("event_type") && !rsch.contains("user_id"),
      s"touched-file probe is not pruned to the merge key: $rsch")
    // merged content equals the independent batch-merge reference
    val inserts = s.createDataFrame(SourcesSinks.Snk10InsertRows)
      .toDF("event_id", "user_id", "value", "event_type")
    val ref = orig
      .filter(!(col("event_id") % 101 === 0 && col("event_id") % 97 =!= 0 &&
                recent))
      .withColumn("value",
        when(col("event_id") % 97 === 0 && recent,
          col("value") + lit(1000.0d)).otherwise(col("value")))
      .unionByName(inserts)
    val v2 = SourcesSinks.snk9ReadSnapshot(s, r.v2Manifest)
    assert(v2.exceptAll(ref).isEmpty && ref.exceptAll(v2).isEmpty,
      "merged snapshot diverges from the batch-merge reference")
    // the reference itself must differ from the original in all three
    // ways, or the merge clauses are untested
    val nDeleted = orig.filter(col("event_id") % 101 === 0 &&
      col("event_id") % 97 =!= 0 && recent).count()
    val nUpdated = orig.filter(col("event_id") % 97 === 0 && recent).count()
    assert(nDeleted > 0 && nUpdated > 0,
      s"delta vacuous: $nUpdated updates, $nDeleted deletes")
    assert(v2.count() == orig.count() - nDeleted + 5,
      "row accounting broken: deletes or inserts did not land")
    assert(v2.filter(col("event_type") === "insert").count() == 5)
    assert(v2.join(orig.filter(col("event_id") % 97 === 0 && recent)
        .select(col("event_id"), col("value").as("old_value")), "event_id")
      .filter(col("value") =!= col("old_value") + 1000.0d).count() == 0)
  }

  test("SNK9: manifest-pinned snapshots isolate readers — v1 reads " +
       "exactly v1 after compaction AND after a torn writer drops junk " +
       "into the data dir, while a naive directory read corrupts") {
    import graft.queries.SourcesSinks
    import org.apache.spark.sql.functions.{col, sum}
    val (v1, v2) = SourcesSinks.snk9PublishBoth(s, TestSpark.Sf)
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)), sum(col("event_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val base = checksum(graft.core.Tables.events(s, TestSpark.Sf)
      .select(col("event_id")))
    val c1 = checksum(SourcesSinks.snk9ReadSnapshot(s, v1))
    val c2 = checksum(SourcesSinks.snk9ReadSnapshot(s, v2))
    assert(c1 == base && c2 == base,
      s"published snapshots diverge from the source: base $base, " +
      s"v1 $c1, v2 $c2")
    // torn concurrent writer: copy one v1 parquet file to a junk name
    // inside the SAME data dir a naive reader would list
    val root = SourcesSinks.snk9Root(TestSpark.Sf)
    val v1dir = root.resolve("data").resolve("v1")
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(v1dir)
    val one =
      try ls.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally ls.close()
    val junk = v1dir.resolve("part-junk-torn-writer.parquet")
    java.nio.file.Files.copy(one, junk,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    try {
      // the manifest-pinned read is unaffected...
      assert(checksum(SourcesSinks.snk9ReadSnapshot(s, v1)) == base,
        "junk file leaked into the manifest-pinned snapshot")
      // ...while the naive directory read provably corrupts (rows from
      // the duplicated file double-count)
      val naive = checksum(s.read.parquet(v1dir.toString))
      assert(naive._1 > base._1,
        "the corruption probe is vacuous — naive listing saw no junk")
    } finally java.nio.file.Files.delete(junk)
  }
}
