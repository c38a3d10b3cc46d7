package graft

import java.nio.file.Files

import graft.aql.{AqlCompiler, AqlJson, Catalog, TableDef}
import graft.ingest.Archiver
import org.apache.spark.sql.functions._

/** End-to-end store lifecycle: archive a fact table into the
  * day-partitioned layout, register it in the catalog as dayPartitioned,
  * and query it through the AQL front end — results must match the same
  * AQL over the original flat table, and the physical plan must prune
  * partitions statically (the reference's live/archive split + archive
  * day-range scan, memstore/archiving.go + aql_compiler.go:1047-1056).
  */
class LifecycleSpec extends SparkSpec {

  test("AQL over the day-partitioned archive: same answers, pruned scan") {
    val dir = Files.createTempDirectory("graft_lifecycle").toString
    try {
      val ev = Tables.events(spark, sfDir)
      Archiver.archive(ev, "ts", Seq("event_type", "user_id"), dir)

      val flatCatalog = Catalog.testdata(sfDir)
      val archCatalog = Catalog(flatCatalog.tables +
        ("events" -> TableDef("events", isFact = true, Some("ts"),
          timestampColumns = Set("ts"), dayPartitioned = true,
          load = s => s.read.parquet(dir))))

      val query = """{
        "table": "events",
        "measures": [{"alias": "value", "sqlExpression": "count(*)"}],
        "dimensions": [{"alias": "et", "sqlExpression": "event_type"}],
        "timeFilter": {"from": "1704412800", "to": "1704672000"},
        "now": 1706659200
      }"""
      val flat = new AqlCompiler(flatCatalog, spark)
        .compile(AqlJson.parseQuery(query)).df
      val arch = new AqlCompiler(archCatalog, spark)
        .compile(AqlJson.parseQuery(query)).df

      val flatRows = flat.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val archRows = arch.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(flatRows == archRows && flatRows.nonEmpty)

      // static partition pruning: 3 of 30 days selected
      val scan = arch.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString
      assert(scan.contains("PartitionFilters") && scan.contains("day"),
        s"no partition filter:\n$scan")
      assert(!scan.contains("day=2024-01-10"), "unselected day partition in scan")
    } finally Archiver.purge(spark, dir, "9999-99-99")
  }
}
