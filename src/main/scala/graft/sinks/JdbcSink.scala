package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.sql.{Connection, DriverManager}
import java.util.Properties

/** JDBC (Postgres-parity) sink — the reference's actual storage target
  * (`get_logs.go:95-137`): batched inserts with PK
  * `ON CONFLICT DO NOTHING` idempotence.
  *
  * Statement-side idempotence is ONE executor ([[appendBatched]]:
  * per-partition prepared statements, typed null binding, executeBatch
  * every `batchSize` rows — the Spark rendering of the reference's
  * single NamedExec per window, `get_logs.go:118-126`) parameterized
  * by a pure statement-text [[InsertDialect]]:
  * - [[OnConflictDoNothingDialect]] / [[appendOnConflictDoNothing]] —
  *   the Postgres-exact contract, `INSERT … ON CONFLICT (pk) DO
  *   NOTHING`. The sandbox has no Postgres and no pure-JVM stand-in
  *   (no H2 jar in /opt/spark/jars or the offline cache; Derby
  *   rejects the syntax), so exactly this dialect's SQL TEXT is
  *   unexecuted — string-asserted against the reference statement —
  *   while every line of its executor runs in the Derby integration
  *   test through the portable dialect.
  * - [[WhereNotExistsDialect]] / [[appendWhereNotExists]] — the
  *   portable form (`INSERT … SELECT FROM (VALUES …) WHERE NOT
  *   EXISTS`), integration-EXECUTED against embedded Derby: replays
  *   and intra-batch duplicates are absorbed by the statement itself,
  *   with the concurrent-writer boundary documented on the method.
  * And one Spark-side decision path:
  * - [[appendIdempotent]] — dialect-generic: anti-join the batch
  *   against existing PKs (range-pruned on `rangeCol`, the JDBC analog
  *   of the parquet sink's partition pruning), then plain batched
  *   append. Works on any JDBC database (integration-tested against
  *   embedded Derby).
  *
  * At scale the writes parallelize per partition; `rangeCol` keeps the
  * existing-keys read O(batch window), not O(table): the bound is
  * baked into the pushed-down SQL itself ([[boundedKeysQuery]]), so a
  * micro-batch never rescans the whole target table. The streaming
  * path ([[streamTo]]) therefore REQUIRES a range column; only the
  * one-shot batch form may omit it (explicit full-table compare).
  */
object JdbcSink {

  /** The DB-side existing-keys probe: PK columns of the rows whose
    * `rangeCol` falls inside the batch's [lo, hi]. Sent as a derived
    * table, so the range predicate executes in the database by
    * construction (no reliance on filter pushdown) and only PK columns
    * cross the wire. */
  def boundedKeysQuery(table: String, pk: Seq[String], rangeCol: String,
      lo: Any, hi: Any): String =
    s"(select ${pk.mkString(", ")} from $table " +
      s"where $rangeCol between ${sqlLiteral(lo)} and ${sqlLiteral(hi)}) graft_existing_keys"

  private def sqlLiteral(v: Any): String = v match {
    case n @ (_: Long | _: Int | _: Short | _: Byte | _: Double | _: Float) => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp => s"timestamp '${t.toString}'"
    case d: java.sql.Date => s"date '${d.toString}'"
    case other => throw new IllegalArgumentException(
      s"rangeCol literal of unsupported type ${other.getClass.getName}")
  }

  /** `rangeCol` values are spliced into the pushed-down SQL as
    * literals ([[boundedKeysQuery]]), so only types whose rendering
    * cannot smuggle SQL are allowed: numerics, decimal, timestamp,
    * date. A string range column is rejected up front — quote-doubling
    * does not cover backslash-escaping dialects, so data-derived
    * string bounds would be an injection surface. */
  private def requireSpliceSafe(batch: DataFrame, rangeCol: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = batch.schema(rangeCol).dataType
    val ok = dt match {
      case _: NumericType | TimestampType | DateType => true
      case _ => false
    }
    require(ok, s"rangeCol '$rangeCol' must be numeric, timestamp or date " +
      s"(got $dt): string bounds would splice data into SQL text")
  }

  /** Generic idempotent append (any JDBC dialect). `rangeCol = None`
    * compares against the FULL target PK set — O(table) per call, for
    * one-shot batch loads only; every recurring path must pass the
    * range column. */
  def appendIdempotent(
      batch: DataFrame,
      url: String,
      table: String,
      pk: Seq[String],
      props: Properties = new Properties(),
      rangeCol: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    rangeCol.foreach(requireSpliceSafe(batch, _))
    val deduped = batch.dropDuplicates(pk).cache()
    try {
      val existing = rangeCol match {
        case Some(c) =>
          val r = deduped.agg(min(col(c)), max(col(c))).collect()(0)
          if (r.isNullAt(0)) spark.read.jdbc(url, table, props).select(pk.map(col): _*).limit(0)
          else spark.read.jdbc(url, boundedKeysQuery(table, pk, c, r.get(0), r.get(1)), props)
        case None =>
          spark.read.jdbc(url, s"(select ${pk.mkString(", ")} from $table) graft_existing_keys", props)
      }
      deduped
        .join(existing.select(pk.map(col): _*), pk, "left_anti")
        .write.mode("append").jdbc(url, table, props)
    } finally deduped.unpersist()
  }

  /** A dialect is ONLY the statement text: a pure function from
    * (table, schema, pk) to the per-row idempotent INSERT with `?`
    * placeholders. Everything that can be integration-run without the
    * target database — connection lifecycle, typed null binding,
    * addBatch/executeBatch cadence, commit — lives in the ONE shared
    * executor [[appendBatched]], which the Derby test drives through
    * [[WhereNotExistsDialect]]; a dialect whose database isn't in the
    * sandbox (Postgres) therefore has exactly its SQL text unexecuted,
    * nothing more. */
  trait InsertDialect extends Serializable {
    def statement(table: String,
        fields: Seq[org.apache.spark.sql.types.StructField],
        pk: Seq[String]): String
  }

  /** The Postgres-exact contract: `INSERT … ON CONFLICT (pk) DO
    * NOTHING` (the reference's own idempotence, `get_logs.go:118-126`).
    * Absorbs concurrent same-key racers in-statement — the one form
    * that does. */
  object OnConflictDoNothingDialect extends InsertDialect {
    def statement(table: String,
        fields: Seq[org.apache.spark.sql.types.StructField],
        pk: Seq[String]): String = {
      val cols = fields.map(_.name)
      s"""insert into $table (${cols.mkString(", ")})
         |values (${cols.map(_ => "?").mkString(", ")})
         |on conflict (${pk.mkString(", ")}) do nothing""".stripMargin
    }
  }

  /** Portable `INSERT … SELECT FROM (VALUES …) WHERE NOT EXISTS` with
    * cast-framed placeholders (Derby rejects untyped `?` in a VALUES
    * derived table). Concurrency boundary documented at
    * [[appendWhereNotExists]]. */
  object WhereNotExistsDialect extends InsertDialect {
    def statement(table: String,
        fields: Seq[org.apache.spark.sql.types.StructField],
        pk: Seq[String]): String = {
      val cols = fields.map(_.name)
      val valuesRow = fields.map(f => s"cast(? as ${castSqlType(f.dataType)._1})")
        .mkString(", ")
      s"""insert into $table (${cols.mkString(", ")})
         |select ${cols.map(c => s"s.$c").mkString(", ")}
         |from (values ($valuesRow)) s (${cols.mkString(", ")})
         |where not exists (select 1 from $table t
         |  where ${pk.map(k => s"t.$k = s.$k").mkString(" and ")})""".stripMargin
    }
  }

  /** The shared per-partition executor: PK-dedup the batch, then in
    * each partition one connection, one prepared statement (the
    * dialect's), typed null binding, executeBatch every `batchSize`
    * rows, one commit. Every dialect path runs THIS code — the Derby
    * integration test (replays, intra-batch dups, typed nulls)
    * certifies it for all of them. */
  def appendBatched(
      batch: DataFrame,
      url: String,
      table: String,
      pk: Seq[String],
      dialect: InsertDialect,
      props: Properties = new Properties(),
      batchSize: Int = 1000): Unit = {
    val fields = batch.schema.fields.toSeq
    val cols = fields.map(_.name)
    require(pk.forall(cols.contains), s"pk ${pk.mkString(",")} ⊄ ${cols.mkString(",")}")
    val sql = dialect.statement(table, fields, pk)
    val types = fields.map(f => castSqlType(f.dataType)._2).toArray
    val propsMap = {
      val m = new java.util.Properties()
      m.putAll(props)
      m
    }
    batch.dropDuplicates(pk).foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val conn: Connection = DriverManager.getConnection(url, propsMap)
      try {
        conn.setAutoCommit(false)
        val st = conn.prepareStatement(sql)
        var n = 0
        rows.foreach { r =>
          var i = 0
          while (i < types.length) {
            val v = r.get(i)
            if (v == null) st.setNull(i + 1, types(i)) else st.setObject(i + 1, v)
            i += 1
          }
          st.addBatch()
          n += 1
          if (n % batchSize == 0) st.executeBatch()
        }
        st.executeBatch()
        conn.commit()
      } finally conn.close()
    }
  }

  /** Postgres-exact idempotent append: `ON CONFLICT (pk) DO NOTHING`
    * through [[appendBatched]] — the executor is the Derby-certified
    * one; only this dialect's literal SQL text has no in-sandbox
    * database to run against. */
  def appendOnConflictDoNothing(
      batch: DataFrame,
      url: String,
      table: String,
      pk: Seq[String],
      props: Properties = new Properties(),
      batchSize: Int = 1000): Unit =
    appendBatched(batch, url, table, pk, OnConflictDoNothingDialect, props, batchSize)

  /** Source-side SQL types for the cast-framed VALUES row of
    * [[appendWhereNotExists]]: several dialects (Derby among them)
    * reject untyped `?` parameters inside a VALUES derived table, so
    * every placeholder is `cast(? as <type>)`. Strings are VARCHAR
    * (not the dialect's CLOB default — CLOB can't sit in an equality
    * predicate), sized to Derby's VARCHAR ceiling. */
  private def castSqlType(dt: org.apache.spark.sql.types.DataType): (String, Int) = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => ("varchar(32672)", java.sql.Types.VARCHAR)
      case LongType => ("bigint", java.sql.Types.BIGINT)
      case IntegerType => ("integer", java.sql.Types.INTEGER)
      case ShortType | ByteType => ("smallint", java.sql.Types.SMALLINT)
      case DoubleType => ("double", java.sql.Types.DOUBLE)
      case FloatType => ("real", java.sql.Types.REAL)
      case BooleanType => ("boolean", java.sql.Types.BOOLEAN)
      case TimestampType => ("timestamp", java.sql.Types.TIMESTAMP)
      case DateType => ("date", java.sql.Types.DATE)
      case d: DecimalType => (s"decimal(${d.precision},${d.scale})", java.sql.Types.DECIMAL)
      case other => throw new IllegalArgumentException(
        s"unsupported column type for the WHERE NOT EXISTS path: $other")
    }
  }

  /** Portable DATABASE-SIDE idempotent append:
    * `INSERT INTO t SELECT … FROM (VALUES (…)) s WHERE NOT EXISTS
    * (SELECT 1 FROM t WHERE t.pk = s.pk)`, prepared-statement batches
    * per partition — the statement-level analog of the reference's
    * `ON CONFLICT DO NOTHING` (`get_logs.go:118-126`) in the SQL
    * subset every tested dialect executes (integration-run against
    * embedded Derby, which accepts neither `ON CONFLICT` nor a
    * MERGE-from-VALUES: its MERGE source must be a base table).
    *
    * Guarantee boundary, stated plainly: the NOT EXISTS probe and the
    * insert are one statement but NOT one atomic unit under
    * concurrent writers in read-committed isolation — two sessions
    * racing the same key can both pass the probe, and the loser
    * surfaces as a PK violation instead of being silently skipped
    * (Postgres's ON CONFLICT is the only form that absorbs that race
    * in-statement; [[appendOnConflictDoNothing]] keeps that contract
    * for pg targets). Replays and intra-batch duplicates ARE absorbed:
    * statements in a batch execute sequentially, so the second copy
    * of a key sees the first. The reference runs a single-writer
    * poller, where this distinction never fires. */
  def appendWhereNotExists(
      batch: DataFrame,
      url: String,
      table: String,
      pk: Seq[String],
      props: Properties = new Properties(),
      batchSize: Int = 1000): Unit =
    appendBatched(batch, url, table, pk, WhereNotExistsDialect, props, batchSize)

  /** Streaming variant: checkpointed micro-batches into the JDBC
    * table — the full reference loop with Postgres as the sink
    * (BASELINE.json's "Structured Streaming + Postgres sink").
    * `rangeCol` is REQUIRED here: a micro-batch loop doing a
    * full-table existing-keys read per batch degrades O(table²) over
    * the stream's lifetime. */
  def streamTo(
      stream: DataFrame,
      url: String,
      table: String,
      pk: Seq[String],
      checkpointDir: String,
      rangeCol: String,
      props: Properties = new Properties(),
      pollInterval: Option[String] = None): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(graft.streaming.triggerOf(pollInterval))
      .foreachBatch { (b: DataFrame, _: Long) =>
        appendIdempotent(b, url, table, pk, props, Some(rangeCol))
      }
      .start()
  }
}
