package graft.queries

import java.nio.file.Files

import graft.{QueryDef, Tables}
import graft.operators.TextOps
import graft.sinks.TrainingShards
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gate queries for the corpus export sinks: gzip JSONL shards
  * ([[graft.sinks.JsonlShards]]) and binary token shards
  * ([[graft.sinks.TrainingShards]]).
  *
  * Both gates round-trip REAL bytes: the JSONL gate aggregates the
  * `spark.read.json` read-back; the shard gate writes the corpus's token
  * ids through the .bin/.idx writer, reads them back, and checks
  * per-sequence count and sum against a DuckDB replay of the same
  * tokenization. The shard gate leans on the sink's global-order
  * contract: range partitions ascend with shard file names, so the
  * read-back (shard, seq_idx) order IS doc_id order.
  */
object ExportQueries {

  /** Deterministic token-id mapping that DuckDB can replay exactly:
    * id = min(len(token), 255) — the values are irrelevant (any id in
    * [0, vocab) round-trips identically), the cross-engine replayability
    * is the point.
    */
  private val ShardVocab = 256

  val defs: Seq[QueryDef] = Seq(
    // --- gzip JSONL shard export → read-back round trip: write the
    // documents table through the sink (Catalyst to_json encoding, range-
    // partitioned deterministic shards, manifest-last), then prove the
    // files are complete and parseable by aggregating the spark.read.json
    // READ-BACK — any lost/torn/mis-escaped row breaks a sum. Oracle is
    // the same aggregate over the source table.
    QueryDef("q_export_jsonl",
      """SELECT CAST(4 AS INT) AS shards, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_id,
        |  CAST(SUM(len(text)) AS BIGINT) AS sum_chars
        |FROM documents""".stripMargin) { (s, d) =>
      val dir = Files.createTempDirectory("graft_jsonl_gate").toString
      val manifest = graft.sinks.JsonlShards.write(
        Tables.documents(s, d).select("doc_id", "text", "lang"),
        "doc_id", dir, shards = 4)
      val nShards = manifest.count().toInt
      s.read.json(s"$dir/part-*.jsonl.gz")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_id"),
          sum(length(col("text"))).as("sum_chars"))
        .select(lit(nShards).as("shards"), col("n"), col("sum_id"),
          col("sum_chars"))
    },

    // --- token-shard export round trip ------------------------------------
    // documents → whitespace tokens → replayable ids → 4 binary shard
    // pairs on disk → read back → per-sequence (ordinal, count, id-sum).
    // The oracle recomputes all three from the raw text: a byte flipped
    // anywhere in the .bin/.idx round trip breaks the sum or the order.
    QueryDef("q_export_shards",
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents)
        |SELECT ROW_NUMBER() OVER (ORDER BY doc_id) AS seq,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(toks, x -> least(length(x), 255)))
        |    AS BIGINT) AS sum_ids
        |FROM t ORDER BY seq""".stripMargin) { (s, d) =>
      val dir = Files.createTempDirectory("graft_shards_gate")
        .resolve("out").toString
      val ids = Tables.documents(s, d).select(
        col("doc_id"),
        transform(TextOps.tokens(lower(col("text"))),
          t => least(length(t), lit(255)).cast("int")).as("ids"))
      TrainingShards.write(ids, "doc_id", "ids", dir, vocabSize = ShardVocab,
        shards = 4)
      TrainingShards.read(s, dir)
        .select(
          row_number().over(Window.orderBy("shard", "seq_idx"))
            .cast("long").as("seq"),
          size(col("tokens")).cast("long").as("n_tokens"),
          aggregate(col("tokens"), lit(0L), (a, x) => a + x).as("sum_ids"))
        .orderBy("seq")
    })
}
