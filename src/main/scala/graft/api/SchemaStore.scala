package graft.api

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.aql.ParseException

/** The reference's mutable table-schema model and its JSON wire shapes
  * (/root/reference/metastore/common/model.go:40-151): a table is a name,
  * an ordered column list (columns are never removed, only marked
  * `deleted` — indexes are column IDs), primary-key / archiving-sort
  * column ID lists, and a fact/dimension flag. Column 0 of a fact table is
  * its designated time column (model.go:55-58 validation).
  */
/** @param preloadingDays / @param priority the reference's per-column
  *   ColumnConfig eviction knobs (model.go:20-36) — how many recent days
  *   to pin in host memory and the eviction priority (high number = high
  *   priority). Outside clients send them, so they are stored and echoed
  *   back on the wire; nothing here acts on them.
  */
final case class AqlColumn(
    name: String,
    tpe: String,
    deleted: Boolean = false,
    defaultValue: Option[String] = None,
    caseInsensitive: Boolean = false,
    disableAutoExpand: Boolean = false,
    isHLLColumn: Boolean = false,
    preloadingDays: Int = 0,
    priority: Long = 0) {
  /** Enum-typed columns — scalar or array — share the same dictionary
    * machinery (the reference's ArraySmallEnum/ArrayBigEnum resolve
    * through the column's enum dict exactly like their scalars,
    * data_type.go:69-70).
    */
  def isEnum: Boolean = {
    val base = if (tpe.endsWith("[]")) tpe.dropRight(2) else tpe
    base == "SmallEnum" || base == "BigEnum"
  }
}

final case class AqlTableSchema(
    name: String,
    columns: Vector[AqlColumn],
    primaryKeyColumns: Seq[Int],
    isFactTable: Boolean,
    archivingSortColumns: Seq[Int] = Nil,
    version: Int = 0,
    config: graft.ingest.TableJobConfig = graft.ingest.TableJobConfig()) {

  def activeColumns: Vector[AqlColumn] = columns.filterNot(_.deleted)

  def pkNames: Seq[String] = primaryKeyColumns.map(columns(_).name)

  /** Fact tables designate column 0 as the event-time column
    * (ref metastore/validator.go — time column must be Uint32 at index 0).
    */
  def timeColumn: Option[String] =
    if (isFactTable && columns.nonEmpty) Some(columns(0).name) else None

  def sparkSchema: StructType =
    StructType(activeColumns.map(c =>
      StructField(c.name, SchemaStore.sparkType(c.tpe), nullable = true)))
}

object SchemaStore {

  /** AQL storage type → Spark type. Unsigned types widen one step (Spark
    * has no unsigned integers; ref data_type.go:24-52). Enum / UUID types
    * surface as strings — dictionary encoding is the parquet layer's job
    * in this engine. GeoPoint is a (lat, lng) float struct like the
    * reference's [2]float32 (ingestion converts 'Point(lng,lat)' WKT text,
    * data_type.go:440-478), so geo literal coercion compares point values;
    * GeoShape stays WKT text.
    */
  def sparkType(aqlType: String): DataType = aqlType match {
    case "Bool" => BooleanType
    case "Int8" => ByteType
    case "Uint8" => ShortType
    case "Int16" => ShortType
    case "Uint16" => IntegerType
    case "Int32" => IntegerType
    case "Uint32" => LongType
    case "Int64" => LongType
    case "Float32" => FloatType
    case "SmallEnum" | "BigEnum" | "UUID" | "GeoShape" => StringType
    case "GeoPoint" => StructType(Seq(
      StructField("lat", FloatType), StructField("lng", FloatType)))
    case s if s.endsWith("[]") => ArrayType(sparkType(s.dropRight(2)))
    case other => throw ParseException(s"unknown AQL data type: $other", 0)
  }

  def parseColumn(j: JValue): AqlColumn = {
    def str(field: String): Option[String] = j \ field match {
      case JString(s) => Some(s)
      case _ => None
    }
    def bool(field: String): Boolean = j \ field match {
      case JBool(b) => b
      case _ => false
    }
    AqlColumn(
      name = str("name").getOrElse(throw ParseException("column needs a name", 0)),
      tpe = str("type").getOrElse(throw ParseException("column needs a type", 0)),
      deleted = bool("deleted"),
      defaultValue = str("defaultValue"),
      caseInsensitive = bool("caseInsensitive"),
      disableAutoExpand = bool("disableAutoExpand"),
      isHLLColumn = j \ "hllConfig" \ "isHLLColumn" match {
        case JBool(b) => b
        case _ => false
      },
      preloadingDays = j \ "config" \ "preloadingDays" match {
        case JInt(i) => i.toInt
        case JLong(l) => l.toInt
        case _ => 0
      },
      priority = j \ "config" \ "priority" match {
        case JInt(i) => i.toLong
        case JLong(l) => l
        case _ => 0L
      })
  }

  def parseTable(body: String): AqlTableSchema = {
    val j = JsonMethods.parse(body)
    val name = j \ "name" match {
      case JString(s) if s.nonEmpty => s
      case _ => throw ParseException("table needs a name", 0)
    }
    val cols = j \ "columns" match {
      case JArray(cs) => cs.map(parseColumn).toVector
      case _ => throw ParseException("table needs columns", 0)
    }
    def ints(field: String): Seq[Int] = j \ field match {
      case JArray(vs) => vs.map {
        case JInt(i) => i.toInt
        case other => throw ParseException(s"$field must be column indexes", 0)
      }
      case _ => Nil
    }
    val isFact = j \ "isFactTable" match {
      case JBool(b) => b
      case _ => false
    }
    AqlTableSchema(name, cols, ints("primaryKeyColumns"), isFact,
      ints("archivingSortColumns"), config = parseConfig(j \ "config"))
  }

  /** Parse a `tableConfig` document (model.go:76-124 wire fields), with
    * the reference defaults (disk_metastore.go:35-48) for absent fields.
    */
  def parseConfig(j: JValue): graft.ingest.TableJobConfig =
    parseConfigOver(j, graft.ingest.TableJobConfig())

  /** Parse with an explicit fallback config for absent fields (the
    * config-update overlay semantics).
    */
  def parseConfigOver(j: JValue, d: graft.ingest.TableJobConfig)
      : graft.ingest.TableJobConfig = {
    def num(field: String, dflt: Long): Long = j \ field match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case JDouble(v) => v.toLong
      case _ => dflt
    }
    def int(field: String, dflt: Int): Int = num(field, dflt).toInt
    graft.ingest.TableJobConfig(
      batchSize = int("batchSize", d.batchSize),
      redoLogRotationInterval = int("redoLogRotationInterval", d.redoLogRotationInterval),
      maxRedoLogFileSize = int("maxRedoLogFileSize", d.maxRedoLogFileSize),
      archivingDelayMinutes = num("archivingDelayMinutes", d.archivingDelayMinutes),
      archivingIntervalMinutes = num("archivingIntervalMinutes", d.archivingIntervalMinutes),
      backfillIntervalMinutes = num("backfillIntervalMinutes", d.backfillIntervalMinutes),
      backfillMaxBufferSize = num("backfillMaxBufferSize", d.backfillMaxBufferSize),
      backfillThresholdInBytes = num("backfillThresholdInBytes", d.backfillThresholdInBytes),
      backfillStoreBatchSize = int("backfillStoreBatchSize", d.backfillStoreBatchSize),
      recordRetentionInDays = int("recordRetentionInDays", d.recordRetentionInDays),
      snapshotIntervalMinutes = num("snapshotIntervalMinutes", d.snapshotIntervalMinutes),
      snapshotThreshold = num("snapshotThreshold", d.snapshotThreshold),
      allowMissingEventTime = j \ "allowMissingEventTime" match {
        case JBool(b) => b
        case _ => d.allowMissingEventTime
      })
  }

  def renderConfig(c: graft.ingest.TableJobConfig): JValue = JObject(
    "batchSize" -> JInt(c.batchSize),
    "redoLogRotationInterval" -> JInt(c.redoLogRotationInterval),
    "maxRedoLogFileSize" -> JInt(c.maxRedoLogFileSize),
    "archivingDelayMinutes" -> JLong(c.archivingDelayMinutes),
    "archivingIntervalMinutes" -> JLong(c.archivingIntervalMinutes),
    "backfillIntervalMinutes" -> JLong(c.backfillIntervalMinutes),
    "backfillMaxBufferSize" -> JLong(c.backfillMaxBufferSize),
    "backfillThresholdInBytes" -> JLong(c.backfillThresholdInBytes),
    "backfillStoreBatchSize" -> JInt(c.backfillStoreBatchSize),
    "recordRetentionInDays" -> JInt(c.recordRetentionInDays),
    "snapshotIntervalMinutes" -> JLong(c.snapshotIntervalMinutes),
    "snapshotThreshold" -> JLong(c.snapshotThreshold),
    "allowMissingEventTime" -> JBool(c.allowMissingEventTime))

  def renderColumn(c: AqlColumn): JValue = JObject(List(
    Some("name" -> JString(c.name): JField),
    Some("type" -> JString(c.tpe): JField),
    if (c.deleted) Some("deleted" -> JBool(true): JField) else None,
    c.defaultValue.map(v => "defaultValue" -> (JString(v): JValue)),
    if (c.caseInsensitive) Some("caseInsensitive" -> JBool(true): JField) else None,
    if (c.disableAutoExpand) Some("disableAutoExpand" -> JBool(true): JField) else None,
    if (c.isHLLColumn)
      Some("hllConfig" -> (JObject("isHLLColumn" -> JBool(true)): JValue)) else None,
    if (c.preloadingDays != 0 || c.priority != 0)
      Some("config" -> (JObject(
        "preloadingDays" -> JInt(c.preloadingDays),
        "priority" -> JLong(c.priority)): JValue)) else None
  ).flatten)

  def renderTable(t: AqlTableSchema): JValue = JObject(
    "name" -> JString(t.name),
    "columns" -> JArray(t.columns.map(renderColumn).toList),
    "primaryKeyColumns" -> JArray(t.primaryKeyColumns.map(i => JInt(i)).toList),
    "isFactTable" -> JBool(t.isFactTable),
    "archivingSortColumns" -> JArray(t.archivingSortColumns.map(i => JInt(i)).toList),
    "version" -> JInt(t.version),
    "config" -> renderConfig(t.config))
}

/** In-memory metastore for user-created tables + enum dictionaries — the
  * mutation surface of the reference's schema/enum handlers
  * (api/schema_handler.go:117-254, api/enum_handler.go:47-110). Columns
  * are append-only with `deleted` placeholders so column IDs stay stable;
  * enum dictionaries append-only so enum values stay stable.
  */
final class SchemaStore {

  private val tables = TrieMap.empty[String, AqlTableSchema]
  private val enums = TrieMap.empty[(String, String), Vector[String]]

  def get(name: String): Option[AqlTableSchema] = tables.get(name)
  def names: Seq[String] = tables.keys.toSeq

  def create(schema: AqlTableSchema): Unit = synchronized {
    if (tables.contains(schema.name))
      throw ParseException(s"table ${schema.name} already exists", 0)
    val dup = schema.columns.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    if (dup.nonEmpty)
      throw ParseException(s"duplicate column(s): ${dup.mkString(",")}", 0)
    schema.primaryKeyColumns.foreach { i =>
      if (i < 0 || i >= schema.columns.length)
        throw ParseException(s"primary key column index $i out of range", 0)
    }
    if (schema.isFactTable && schema.columns.isEmpty)
      throw ParseException("fact table needs a time column at index 0", 0)
    // validate declared types eagerly
    schema.columns.foreach(c => SchemaStore.sparkType(c.tpe))
    tables.put(schema.name, schema)
    // enum columns get (empty) dictionaries on table creation; cases may be
    // pre-registered via the enum-cases endpoint before any ingestion
    schema.columns.filter(_.isEnum).foreach(c =>
      enums.putIfAbsent((schema.name, c.name), Vector.empty))
  }

  def updateConfig(name: String, body: String = ""): AqlTableSchema = synchronized {
    val t = require(name)
    // table config is operational metadata (batch sizes, job intervals —
    // the scheduler's knobs) with no effect on query semantics; absent
    // fields keep their current values, like the reference's mutable
    // TableConfig update (schema_handler.go UpdateTableConfig)
    val cfg =
      if (body.trim.isEmpty) t.config
      else {
        val j = JsonMethods.parse(body)
        // overlay: parse against the CURRENT config as defaults
        SchemaStore.parseConfigOver(j, t.config)
      }
    val bumped = t.copy(version = t.version + 1, config = cfg)
    tables.put(name, bumped)
    bumped
  }

  def delete(name: String): Unit = synchronized {
    require(name)
    tables.remove(name)
    enums.keys.filter(_._1 == name).foreach(enums.remove)
  }

  def addColumn(name: String, col: AqlColumn, addToSort: Boolean): AqlTableSchema =
    synchronized {
      val t = require(name)
      if (t.columns.exists(c => c.name == col.name && !c.deleted))
        throw ParseException(s"column ${col.name} already exists", 0)
      SchemaStore.sparkType(col.tpe)
      val id = t.columns.length
      val updated = t.copy(
        columns = t.columns :+ col,
        archivingSortColumns =
          if (addToSort) t.archivingSortColumns :+ id else t.archivingSortColumns,
        version = t.version + 1)
      tables.put(name, updated)
      if (col.isEnum) enums.putIfAbsent((name, col.name), Vector.empty)
      updated
    }

  /** Update a column's config — only preloadingDays/priority are
    * updatable (schema_request.go:82-94's ColumnConfig). The knobs are
    * stored and rendered back; no cache or preload acts on them.
    */
  def updateColumn(name: String, colName: String,
      configBody: String = "{}"): AqlTableSchema = synchronized {
    val t = require(name)
    val id = t.columns.indexWhere(c => c.name == colName && !c.deleted)
    if (id < 0) throw ParseException(s"column $colName does not exist", 0)
    val j = try JsonMethods.parse(configBody) catch { case _: Throwable => JNothing }
    def num(field: String, dflt: Long): Long =
      (j \ field, j \ "config" \ field) match {
        case (JInt(i), _) => i.toLong
        case (JLong(l), _) => l
        case (_, JInt(i)) => i.toLong
        case (_, JLong(l)) => l
        case _ => dflt
      }
    val c = t.columns(id)
    val updated = t.copy(
      columns = t.columns.updated(id, c.copy(
        preloadingDays = num("preloadingDays", c.preloadingDays).toInt,
        priority = num("priority", c.priority))),
      version = t.version + 1)
    tables.put(name, updated)
    updated
  }

  def deleteColumn(name: String, colName: String): AqlTableSchema = synchronized {
    val t = require(name)
    val id = t.columns.indexWhere(c => c.name == colName && !c.deleted)
    if (id < 0) throw ParseException(s"column $colName does not exist", 0)
    if (t.primaryKeyColumns.contains(id))
      throw ParseException(s"cannot delete primary key column $colName", 0)
    if (t.isFactTable && id == 0)
      throw ParseException(s"cannot delete the fact time column $colName", 0)
    // deleted columns stay as placeholders (model.go:46-47)
    val updated = t.copy(
      columns = t.columns.updated(id, t.columns(id).copy(deleted = true)),
      version = t.version + 1)
    tables.put(name, updated)
    updated
  }

  def listEnumCases(table: String, column: String): Vector[String] = {
    require(table)
    enums.getOrElse((table, column),
      throw ParseException(s"column $column is not an enum column", 0))
  }

  /** Append new enum cases, returning the enum VALUE (dictionary id) of
    * each requested case — existing cases keep their id (the reference's
    * ExtendEnumDict, metastore append-only enum semantics).
    */
  def extendEnumDict(table: String, column: String, cases: Seq[String]): Seq[Int] =
    synchronized {
      require(table)
      val key = (table, column)
      var dict = enums.getOrElse(key,
        throw ParseException(s"column $column is not an enum column", 0))
      val ids = cases.map { c =>
        val at = dict.indexOf(c)
        if (at >= 0) at
        else {
          dict = dict :+ c
          dict.length - 1
        }
      }
      enums.put(key, dict)
      ids
    }

  private def require(name: String): AqlTableSchema =
    tables.getOrElse(name, throw ParseException(s"unknown table: $name", 0))

  /** Full state for cross-instance propagation ([[SchemaSync]]). */
  def snapshot: (Seq[AqlTableSchema], Map[(String, String), Vector[String]]) =
    synchronized {
      (tables.values.toSeq.sortBy(_.name), enums.toMap)
    }

  /** Replace the whole store with a shared snapshot (applied only for
    * snapshots strictly newer than the last — [[SchemaSync]] guards the
    * version ordering).
    */
  def applySnapshot(newTables: Seq[AqlTableSchema],
      newEnums: Map[(String, String), Vector[String]]): Unit = synchronized {
    tables.clear()
    newTables.foreach(t => tables.put(t.name, t))
    enums.clear()
    newEnums.foreach { case (k, v) => enums.put(k, v) }
  }
}
