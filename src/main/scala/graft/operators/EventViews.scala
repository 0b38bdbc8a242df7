package graft.operators

import graft.functions.Abi
import graft.sources.Logs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generated per-event decode views — the reference's query API
  * surface (`init.sql:213-222`; views are produced from contract ABIs
  * by its sibling ethereum-sql tool, `README.md:181-206`).
  *
  * Each view = `filter(topic0 == sigHash)` + decode-projection +
  * the metadata quad. Indexed ABI params decode from topic1..topic3
  * in declaration order; non-indexed params decode from `data` at
  * word positions 2, 66, 130, … (`init.sql:215` Deposit uses
  * `to_uint256(2,…)`/`to_uint256(66,…)`).
  *
  * Because decode expressions are plain Catalyst expressions (built-in
  * compositions, plus the codegen'd [[graft.functions.AbiWord]] word
  * kernel for integral fields), Catalyst inlines the view, prunes to
  * the referenced topics/data columns and pushes the topic0 equality
  * into the Parquet scan — the Spark
  * equivalent of Postgres inlining the immutable SQL functions and
  * using the `logs(topic0)` index (`schema.sql:57`).
  */
object EventViews {

  sealed trait DecodeMode
  /** Mathematically correct ABI decode (default). */
  case object Native extends DecodeMode
  /** Bug-for-bug reference decode ([[Abi.Ref]]): clipped last byte on
    * prefixed payloads, multi-word positions decode to 0. */
  case object RefCompat extends DecodeMode

  /** One ABI input: `{"name":…,"type":…,"indexed":…}` (README.md:181-206). */
  case class AbiField(name: String, abiType: String, indexed: Boolean)

  case class EventDef(viewName: String, sigHash: String, fields: Seq[AbiField])

  /** Canonical Solidity signature of an event def — the event name
    * (the view-name prefix before the first `_`, per the reference's
    * generator naming) over the comma-joined field types:
    * `Transfer(address,address,uint256)`. `keccak256` of this string
    * IS `sigHash` — spec-asserted for all ten [[referenceViews]], so
    * the registry constants are derived facts, not trusted inputs,
    * and a user can mint a new [[EventDef]] from a signature alone
    * via [[fromSignature]]. */
  def canonicalSignature(e: EventDef): String =
    e.viewName.takeWhile(_ != '_') + e.fields.map(_.abiType).mkString("(", ",", ")")

  /** Build an [[EventDef]] from a canonical signature, deriving the
    * topic0 hash ([[graft.functions.Keccak.topicOf]]) and the
    * reference generator's view naming (`init.sql:213-222` shape:
    * name, then `type_field` pairs, `_d` suffix on non-indexed
    * numerics decoded to decimal). */
  def fromSignature(signature: String, fields: Seq[AbiField]): EventDef = {
    val open = signature.indexOf('(')
    require(open > 0 && signature.endsWith(")"), s"not a canonical signature: $signature")
    val name = signature.substring(0, open)
    val types = signature.substring(open + 1, signature.length - 1)
    val parsed = if (types.isEmpty) Nil else types.split(",").toSeq
    require(parsed == fields.map(_.abiType),
      s"field types ${fields.map(_.abiType)} disagree with signature $signature")
    val viewName = (name +: fields.map(fl =>
      fl.abiType + "_" + fl.name + (if (!fl.indexed && fl.abiType.startsWith("uint")) "_d" else ""))
    ).mkString("_")
    EventDef(viewName, graft.functions.Keccak.topicOf(signature), fields)
  }

  /** Decode one field given its source column and word position. */
  private def decodeCol(pos: Int, data: Column, abiType: String, mode: DecodeMode): Column =
    (mode, abiType) match {
      case (RefCompat, "uint256") => Abi.Ref.toUint256(pos, data)
      case (RefCompat, "uint128") => Abi.Ref.toUint128(pos, data)
      case (RefCompat, "uint64")  => Abi.Ref.toUint64(pos, data)
      case (RefCompat, "int64")   => Abi.Ref.toInt64(pos, data)
      case (RefCompat, "uint32")  => Abi.Ref.toUint32(pos, data)
      case (RefCompat, "int32")   => Abi.Ref.toInt32(pos, data)
      case _                      => Abi.element(lit(pos), data, abiType)
    }

  /** The decode-projection for one event over a `logs`-shaped frame. */
  def project(logs: DataFrame, e: EventDef, mode: DecodeMode = Native): DataFrame = {
    val (indexed, unindexed) = e.fields.partition(_.indexed)
    val topicCols = indexed.zipWithIndex.map { case (f, i) =>
      decodeCol(2, col(s"topic${i + 1}"), f.abiType, mode).as(f.name)
    }
    val dataCols = unindexed.zipWithIndex.map { case (f, i) =>
      decodeCol(2 + 64 * i, col("data"), f.abiType, mode).as(f.name)
    }
    val meta = Seq(
      col("address").as("contract_address"),
      col("transaction_hash").as("evt_tx_hash"),
      col("log_index").as("evt_index"),
      col("block_timestamp").as("evt_block_time"),
      col("block_number").as("evt_block_number"))
    logs
      .filter(col("topic0") === lit(e.sigHash))
      .select(topicCols ++ dataCols ++ meta: _*)
  }

  /** Register every event as a temp view over `logs`. */
  def registerAll(
      spark: SparkSession,
      logs: DataFrame,
      defs: Seq[EventDef] = referenceViews,
      mode: DecodeMode = Native): Unit =
    defs.foreach(e => project(logs, e, mode).createOrReplaceTempView(e.viewName))

  /** The SQL text of one generated view over `from` — the
    * `init.sql:213-222` body through the registered function surface
    * (`to_address(2, topic1)`, `to_uint256(2, data)`, … — the same
    * pos,data convention q37 gates). Column names are backticked
    * (ABI param names like `from`/`to` are SQL keywords). */
  def viewSql(e: EventDef, from: String): String = {
    val (indexed, unindexed) = e.fields.partition(_.indexed)
    val topicCols = indexed.zipWithIndex.map { case (fld, i) =>
      s"to_${fld.abiType}(2, topic${i + 1}) as `${fld.name}`"
    }
    val dataCols = unindexed.zipWithIndex.map { case (fld, i) =>
      s"to_${fld.abiType}(${2 + 64 * i}, data) as `${fld.name}`"
    }
    val meta = Seq(
      "address as contract_address",
      "transaction_hash as evt_tx_hash",
      "log_index as evt_index",
      "block_timestamp as evt_block_time",
      "block_number as evt_block_number")
    s"select ${(topicCols ++ dataCols ++ meta).mkString(",\n       ")}\n" +
      s"from $from\nwhere topic0 = '${e.sigHash}'"
  }

  private val ChainName = "^[A-Za-z_][A-Za-z0-9_]*$".r

  /** Map the reference's database-per-chain deploy
    * (`db-create.sql:1-10`: one Postgres database per
    * chain/network/stage, views inside it) onto REAL Spark catalog
    * databases: `CREATE DATABASE <chain>`, an external `logs` table
    * at `logsPath` declared with the canonical stored schema
    * ([[graft.sources.Logs.schema]], FIXTURES.md §2 with
    * `block_timestamp`; `PARTITIONED BY (block_range)` when the path
    * holds `block_range=` directories, whose partitions are then
    * recovered into the catalog), so no footer is read to infer it,
    * and each event as a PERMANENT view
    * `<chain>.<viewName>` whose body is [[viewSql]] — so
    * `moonbeam.transfer_…` and `ethereum.transfer_…` answer
    * side-by-side in one session, over SQL (ServeSql/beeline) too,
    * and multi-chain queries are plain qualified-name UNIONs.
    *
    * Permanent views refuse temp functions, so the decode surface is
    * registered at the builtin level
    * ([[graft.functions.Abi.registerSqlFunctions]] `persistent =
    * true` — the extension-injection registration class). The views
    * survive `spark.newSession()`; with the default in-memory
    * catalog they live for the application (a Hive metastore would
    * persist them across applications — same code path).
    *
    * `dbLocation`: the database's warehouse directory (only ever
    * holds catalog metadata here — the logs table is external and
    * views are text); defaults to the session warehouse dir.
    * Idempotent per (chain, logsPath): re-running replaces the
    * views and leaves the external table in place. */
  def registerChainNamespace(
      spark: SparkSession,
      chain: String,
      logsPath: String,
      defs: Seq[EventDef] = referenceViews,
      dbLocation: Option[String] = None): Unit = {
    require(ChainName.matches(chain),
      s"chain must be an identifier ([A-Za-z_][A-Za-z0-9_]*), got '$chain'")
    Abi.registerSqlFunctions(spark, persistent = true)
    val loc = dbLocation.map(d => s" LOCATION '${d.replace("'", "''")}'").getOrElse("")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$chain`$loc")
    val root = new org.apache.hadoop.fs.Path(logsPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val partitioned = fs.exists(root) &&
      fs.listStatus(root).exists(st => st.isDirectory && st.getPath.getName.startsWith("block_range="))
    val (columns, partitioning) =
      if (partitioned) (Logs.storedSchema, " PARTITIONED BY (block_range)") else (Logs.schema, "")
    spark.sql(s"CREATE TABLE IF NOT EXISTS `$chain`.`logs` (${columns.toDDL}) USING parquet" +
      s"$partitioning LOCATION '${logsPath.replace("'", "''")}'")
    // a partitioned table over existing directories starts with no
    // partitions in the catalog; this registers the ranges written since
    if (partitioned) spark.sql(s"ALTER TABLE `$chain`.`logs` RECOVER PARTITIONS")
    // re-registration after the logs path was OVERWRITTEN: the
    // catalog's table-relation cache keys on the TABLE NAME, so a
    // path-level refresh (refreshByPath) does NOT invalidate it and
    // the next read chases the old part files (FAILED_READ_FILE —
    // observed as recurring q94 bench-warmup failures). Table-level
    // refresh is the contract for repeated in-session registration.
    spark.catalog.refreshTable(s"`$chain`.`logs`")
    defs.foreach { e =>
      spark.sql(s"CREATE OR REPLACE VIEW `$chain`.`${e.viewName}` AS\n" +
        viewSql(e, s"`$chain`.`logs`"))
    }
  }

  private def f(name: String, abiType: String, indexed: Boolean = false) =
    AbiField(name, abiType, indexed)

  /** The reference's 10 generated views, names and signature hashes
    * verbatim (`init.sql:213-222`). */
  val referenceViews: Seq[EventDef] = Seq(
    EventDef(
      "Approval_address_owner_address_spender_uint256_amount_d",
      "0x8c5be1e5ebec7d5bd14f71427d1e84f3dd0314c0f7b2291e5b200ac8c7c3b925",
      Seq(f("owner", "address", indexed = true), f("spender", "address", indexed = true),
        f("amount", "uint256"))),
    EventDef(
      "AuthorityUpdated_address_user_address_newAuthority",
      "0xa3396fd7f6e0a21b50e5089d2da70d5ac0a3bbbd1f617a93f134b76389980198",
      Seq(f("user", "address", indexed = true), f("newAuthority", "address", indexed = true))),
    EventDef(
      "Deposit_address_caller_address_owner_uint256_assets_d_uint256_shares_d",
      "0xdcbc1c05240f31ff3ad067ef1ee35ce4997762752e3a095284754544f4c709d7",
      Seq(f("caller", "address", indexed = true), f("owner", "address", indexed = true),
        f("assets", "uint256"), f("shares", "uint256"))),
    EventDef(
      "FeePercentUpdated_address_user_uint256_newFeePercent_d",
      "0xec370615cc81fb334e5566fbc80664d9082377bf59288d64a79f3fbecf4323a9",
      Seq(f("user", "address", indexed = true), f("newFeePercent", "uint256"))),
    EventDef(
      "OwnershipTransferred_address_user_address_newOwner",
      "0x8be0079c531659141344cd1fd0a4f28419497f9722a3daafe3b4186f6b6457e0",
      Seq(f("user", "address", indexed = true), f("newOwner", "address", indexed = true))),
    EventDef(
      "StrategyDeposit_address_user_uint256_underlyingAmount_d",
      "0xc6f6f91a48277d76f232cc08a9a30f6b05b3fd9b92c3180c25936e17a22a1025",
      Seq(f("user", "address", indexed = true), f("underlyingAmount", "uint256"))),
    EventDef(
      "StrategyWithdrawal_address_user_uint256_underlyingAmount_d",
      "0xd5ad0f046bd35f48b421a3e575435de38cea1980177b1c6da935d2f26049f3fa",
      Seq(f("user", "address", indexed = true), f("underlyingAmount", "uint256"))),
    EventDef(
      "TargetFloatPercentUpdated_address_user_uint256_newTargetFloatPercent_d",
      "0x95bc4480b51f4860106d42850bcae222cf3303fb2b7d433e896205e0ebefe369",
      Seq(f("user", "address", indexed = true), f("newTargetFloatPercent", "uint256"))),
    EventDef(
      "Transfer_address_from_address_to_uint256_amount_d",
      "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef",
      Seq(f("from", "address", indexed = true), f("to", "address", indexed = true),
        f("amount", "uint256"))),
    EventDef(
      "Withdraw_address_caller_address_receiver_address_owner_uint256_assets_d_uint256_shares_d",
      "0xfbde797d201c681b91056529119e0b02407c7bb96a4a2c75c01fc9667232c8db",
      Seq(f("caller", "address", indexed = true), f("receiver", "address", indexed = true),
        f("owner", "address", indexed = true),
        f("assets", "uint256"), f("shares", "uint256")))
  )
}
