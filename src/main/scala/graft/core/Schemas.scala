package graft.core

import org.apache.spark.sql.types._

/** Declared schemas for the driver-generated testdata tables (SURVEY §1.3:
  * "parquet self-describes but we assert equality at load — fail fast on
  * drift"). A regeneration of the testdata once moved `events.ts` from
  * parquet TIMESTAMP(NANOS) to TIMESTAMP_MICROS(NTZ) and 35 queries failed
  * with cryptic analysis errors instead of one clear "column X: expected
  * T, got U" message. This module makes the next drift a one-line
  * diagnosis.
  *
  * Timestamp columns are declared as [[TimestampType]] but the checker
  * tolerates the known physical readings of driver-generated data:
  * TIMESTAMP_NTZ (TIMESTAMP_MICROS with isAdjustedToUTC=0) and a raw
  * nanosecond Long (legacy TIMESTAMP(NANOS) under `nanosAsLong`). The
  * loaders in [[Tables]] normalize those variants to session-TZ timestamps;
  * anything else is drift and throws.
  *
  * Cost: the assertion inspects only the inferred schema, which reads
  * parquet footers, not data. Inferring it is one Spark job, which
  * [[Tables.t]] runs once per JVM and file version ([[BuildOnce]]); the
  * assertion itself runs on every read and costs no job.
  */
object Schemas {
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val region = st("r_regionkey" -> IntegerType, "r_name" -> StringType)
  val nation = st("n_nationkey" -> IntegerType, "n_name" -> StringType,
    "n_regionkey" -> IntegerType)
  val customer = st("c_custkey" -> LongType, "c_name" -> StringType,
    "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
    "c_mktsegment" -> StringType)
  val supplier = st("s_suppkey" -> LongType, "s_name" -> StringType,
    "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
  val part = st("p_partkey" -> LongType, "p_name" -> StringType,
    "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
    "p_retailprice" -> DoubleType)
  val orders = st("o_orderkey" -> LongType, "o_custkey" -> LongType,
    "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
    "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType)
  val lineitem = st("l_orderkey" -> LongType, "l_partkey" -> LongType,
    "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
    "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
    "l_discount" -> DoubleType, "l_tax" -> DoubleType,
    "l_returnflag" -> StringType, "l_linestatus" -> StringType,
    "l_shipdate" -> TimestampType)
  val events = st("event_id" -> LongType, "ts" -> TimestampType,
    "user_id" -> LongType, "event_type" -> StringType,
    "value" -> DoubleType, "props" -> StringType)
  val documents = st("doc_id" -> LongType, "text" -> StringType,
    "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
  val embeddings = st("vec_id" -> LongType,
    "embedding" -> ArrayType(FloatType), "label" -> IntegerType)

  val declared: Map[String, StructType] = Map(
    "region" -> region, "nation" -> nation, "customer" -> customer,
    "supplier" -> supplier, "part" -> part, "orders" -> orders,
    "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
    "embeddings" -> embeddings)

  /** Physical readings tolerated for a declared logical type. NTZ is a
    * valid reading for every timestamp column (the current generation
    * writes TIMESTAMP_MICROS with isAdjustedToUTC=0 across orders /
    * lineitem / events). A raw nanosecond Long is tolerated ONLY for
    * `events.ts` — the one column [[Tables]] has a nanos normalizer
    * for; anywhere else a Long-typed timestamp is drift and must fail
    * here with the named column, not later with a cryptic per-query
    * analysis error. */
  private def compatible(table: String, column: String,
                         declaredT: DataType, actual: DataType): Boolean =
    (declaredT, actual) match {
      case (TimestampType, LongType) => table == "events" && column == "ts"
      case (TimestampType, TimestampType | TimestampNTZType) => true
      // parquet list element nullability is writer-dependent; type is what matters
      case (ArrayType(de, _), ArrayType(ae, _)) =>
        compatible(table, column, de, ae)
      case (d, a) => d == a
    }

  /** Assert the loaded schema matches the declared one, with a named-column
    * diagnosis on mismatch. No-op for tables without a declared schema
    * (ad-hoc round-trip temp dirs). */
  def assertMatches(table: String, actual: StructType): Unit =
    declared.get(table).foreach { exp =>
      val expNames = exp.fields.map(_.name)
      val actNames = actual.fields.map(_.name)
      require(actNames.sameElements(expNames),
        s"testdata drift in '$table': expected columns ${expNames.mkString("[", ", ", "]")}, " +
          s"got ${actNames.mkString("[", ", ", "]")}")
      exp.fields.zip(actual.fields).foreach { case (e, a) =>
        require(compatible(table, e.name, e.dataType, a.dataType),
          s"testdata drift in '$table.${e.name}': expected ${e.dataType.sql} " +
            s"(or a tolerated timestamp physical variant), got ${a.dataType.sql}")
      }
    }
}
