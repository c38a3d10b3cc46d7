package graft.sinks

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Token-shard sink — the training-side handoff of the tokenize→pack
  * pipeline: write a corpus of token-id sequences as binary shard pairs
  * (`part-NNNNN.bin` = concatenated little-endian token ids,
  * `part-NNNNN.idx` = per-sequence lengths), the layout a data loader
  * memory-maps (the shape popularized by Megatron-LM's indexed dataset;
  * built here from the published format description, not its code).
  *
  * Scale design: one shard pair per Spark partition, written map-side
  * with NO driver involvement and no shuffle beyond the caller-chosen
  * deterministic range partitioning — 100 TB of packed sequences becomes
  * tens of thousands of shard pairs, each streamed through a fixed-size
  * buffer (never a whole shard in memory). Every shard is written to a
  * dot-temp name and renamed into place (the repo-wide crash
  * discipline: readers never see a torn shard), and a `_manifest.json`
  * written LAST makes the directory's completeness atomic — a reader
  * that finds the manifest finds every shard it lists.
  *
  * The token width is decided by `vocabSize` up front (2 bytes below
  * 65537 ids, else 4) — the vocabulary is always known before export,
  * and a token at or past the declared bound fails LOUDLY rather than
  * truncating silently.
  *
  * Tasks open the filesystem through a broadcast of the SESSION's Hadoop
  * configuration ([[ShardIo]]), so object-store credentials/endpoints set
  * on the SparkSession reach the executors; shard commits are
  * attempt-unique dot-temps renamed over any prior attempt's file
  * (deterministic shards make the overwrite idempotent).
  *
  * File layout (all little-endian):
  *   .bin : tokens back to back, dtype-width bytes each
  *   .idx : magic "GRFTIDX1" (8B) | dtype-bytes u8 | pad 7B |
  *          nSeqs i64 | nTokens i64 | seqLen i64 × nSeqs
  *   _manifest.json : shards in order, per-shard seq/token counts, dtype
  */
object TrainingShards {

  private val IdxMagic = "GRFTIDX1".getBytes("US-ASCII")

  /** Write `df`'s token sequences as shard pairs under `outDir`.
    *
    * @param df        (idCol: integral, tokensCol: array<int>) — ids give
    *                  the deterministic global order
    * @param vocabSize token ids must lie in [0, vocabSize); decides the
    *                  bin dtype (u16 vs i32)
    * @param shards    number of shard pairs (range partitions of idCol);
    *                  0 = the session's shuffle-partition count
    * @return          per-shard (shard, n_seqs, n_tokens, dtype_bytes)
    *                  DataFrame (tiny — the manifest's content)
    */
  def write(df: DataFrame, idCol: String, tokensCol: String, outDir: String,
      vocabSize: Int, shards: Int = 0): DataFrame = {
    require(vocabSize > 0, s"vocabSize $vocabSize must be positive")
    val spark = df.sparkSession
    val parts =
      if (shards > 0) shards
      else spark.sessionState.conf.numShufflePartitions
    val dtypeBytes = if (vocabSize <= 0x10000) 2 else 4
    val root = new Path(outDir)
    val rootFs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rootFs.mkdirs(root)
    // deterministic shard assignment + order: range-partition by id,
    // sort within, so a corpus shards identically across runs
    val ordered = df
      .select(col(idCol).cast("long").as("__id"),
        col(tokensCol).cast(ArrayType(IntegerType)).as("__toks"))
      .repartitionByRange(parts, col("__id"))
      .sortWithinPartitions("__id")
    val dirStr = root.toString
    // stamp the output dir as owned by THIS run before any task commits:
    // the zombie-attempt replace gate in ShardIo.commit
    val runId = ShardIo.stampRun(rootFs, root)
    // the SESSION's Hadoop conf must reach the executors (object-store
    // credentials/endpoints live there, not in `new Configuration()`)
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val stats = ordered.queryExecution.toRdd.mapPartitionsWithIndex { (idx, iter) =>
      val fs = new Path(dirStr).getFileSystem(confBc.value.value)
      val name = f"part-$idx%05d"
      val binTmp = ShardIo.attemptTmp(dirStr, s"$name.bin")
      val idxTmp = ShardIo.attemptTmp(dirStr, s"$name.idx")
      val seqLens = new scala.collection.mutable.ArrayBuffer[Long](1024)
      var nTokens = 0L
      val bin = new DataOutputStream(
        new BufferedOutputStream(fs.create(binTmp, true), 1 << 16))
      while (iter.hasNext) {
        val r = iter.next()
        if (r.isNullAt(1))
          throw new IllegalArgumentException(
            s"shard $name: null token array (clean the corpus first)")
        val arr = r.getArray(1)
        val n = arr.numElements()
        var j = 0
        while (j < n) {
          val t = arr.getInt(j)
          if (t < 0 || t >= vocabSize)
            throw new IllegalArgumentException(
              s"shard $name: token id $t outside [0, $vocabSize)")
          bin.write(t & 0xff); bin.write((t >>> 8) & 0xff)
          if (dtypeBytes == 4) { bin.write((t >>> 16) & 0xff); bin.write((t >>> 24) & 0xff) }
          j += 1
        }
        seqLens += n.toLong
        nTokens += n
      }
      bin.close()
      val idxOut = new DataOutputStream(
        new BufferedOutputStream(fs.create(idxTmp, true), 1 << 16))
      idxOut.write(IdxMagic)
      idxOut.write(dtypeBytes)
      idxOut.write(new Array[Byte](7))
      writeLongLE(idxOut, seqLens.length.toLong)
      writeLongLE(idxOut, nTokens)
      seqLens.foreach(writeLongLE(idxOut, _))
      idxOut.close()
      ShardIo.commit(fs, binTmp, new Path(dirStr, s"$name.bin"), runId)
      ShardIo.commit(fs, idxTmp, new Path(dirStr, s"$name.idx"), runId)
      Iterator((name, seqLens.length.toLong, nTokens))
    }.collect() // O(#shards) tuples — the manifest's content, not the data
    // manifest LAST: its presence certifies every listed shard
    val manifest = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render {
        import org.json4s.JsonDSL._
        ("format" -> "graft-token-shards-v1") ~
          ("dtype_bytes" -> dtypeBytes) ~
          ("shards" -> stats.sortBy(_._1).toList.map { case (n, s, t) =>
            ("name" -> n) ~ ("n_seqs" -> s) ~ ("n_tokens" -> t)
          })
      })
    val mTmp = new Path(root, "._manifest.json.tmp")
    val out = rootFs.create(mTmp, true)
    out.write(manifest.getBytes("UTF-8")); out.close()
    rootFs.delete(new Path(root, "_manifest.json"), false)
    require(rootFs.rename(mTmp, new Path(root, "_manifest.json")),
      "manifest rename failed")
    import spark.implicits._
    stats.toSeq.sortBy(_._1)
      .map { case (n, s, t) => (n, s, t, dtypeBytes) }
      .toDF("shard", "n_seqs", "n_tokens", "dtype_bytes")
  }

  /** Read a shard directory back as (shard, seq_idx, tokens) — the
    * verification path (a real loader memory-maps the files; this one
    * streams them through Spark for spec round-trips and audits).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(new Path(root, "_manifest.json")),
      s"$dir: no _manifest.json — incomplete shard directory")
    val manifest = org.json4s.jackson.JsonMethods.parse(
      new String(readFully(fs, new Path(root, "_manifest.json")), "UTF-8"))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val names = (manifest \ "shards").children
      .map(s => (s \ "name").extract[String])
    val dirStr = root.toString
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val rows = spark.sparkContext.parallelize(names, math.max(1, names.length))
      .flatMap { name =>
        val sfs = new Path(dirStr).getFileSystem(confBc.value.value)
        val idxIn = new DataInputStream(new BufferedInputStream(
          sfs.open(new Path(dirStr, s"$name.idx")), 1 << 16))
        val magic = new Array[Byte](8); idxIn.readFully(magic)
        require(java.util.Arrays.equals(magic, IdxMagic), s"$name.idx: bad magic")
        val dtype = idxIn.read()
        require(dtype == 2 || dtype == 4, s"$name.idx: bad dtype $dtype")
        idxIn.skipBytes(7)
        val nSeqs = readLongLE(idxIn)
        readLongLE(idxIn) // nTokens
        val lens = Array.fill(nSeqs.toInt)(readLongLE(idxIn))
        idxIn.close()
        val binIn = new DataInputStream(new BufferedInputStream(
          sfs.open(new Path(dirStr, s"$name.bin")), 1 << 16))
        val out = lens.iterator.zipWithIndex.map { case (len, i) =>
          val toks = new Array[Int](len.toInt)
          var j = 0
          while (j < len) {
            toks(j) =
              if (dtype == 2) {
                val lo = binIn.read(); val hi = binIn.read()
                (hi << 8) | lo
              } else {
                val b0 = binIn.read(); val b1 = binIn.read()
                val b2 = binIn.read(); val b3 = binIn.read()
                (b3 << 24) | (b2 << 16) | (b1 << 8) | b0
              }
            j += 1
          }
          Row(name, i.toLong, toks.toSeq)
        }.toArray // one writer partition's sequences — bounded by the writer
        binIn.close()
        out
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("shard", StringType, nullable = false),
      StructField("seq_idx", LongType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false))))
  }

  private def writeLongLE(out: DataOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  private def readLongLE(in: DataInputStream): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v |= (in.read().toLong & 0xff) << (8 * i); i += 1 }
    v
  }

  private def readFully(fs: org.apache.hadoop.fs.FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val b = new Array[Byte](len)
      in.readFully(0, b)
      b
    } finally in.close()
  }
}
