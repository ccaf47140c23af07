package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic local scale-up generator for the scaling study
  * (VERDICT r7 item 2): replicates the driver's sf0.1 fixtures k× with
  * key-space offsets so the scaled corpus behaves like MORE data, not
  * like the same data made pathological.
  *
  * Design choices, per table:
  *
  *  - all entity keys are offset by `replica × 10⁷` (orderkeys 10⁸), so
  *    replicas are DISJOINT: the co-purchase graph becomes k disjoint
  *    copies (nodes and edges grow linearly — the honest way to ask
  *    "does wall grow linearly with rows"), user sessions stay
  *    per-replica, join fan-outs don't densify.
  *  - documents text REWRITES every 3rd token to a per-replica variant
  *    (`w` → `w` + "r<k>"). Replica 0 is the untouched original. The
  *    rewrite is a pure function of (token, replica), so two near-dup
  *    docs inside a replica transform identically and the base corpus's
  *    intra-replica dup structure survives; across replicas EVERY
  *    3-token shingle window contains a rewritten position, so
  *    cross-replica Jaccard ≈ 0 and the dup RATE stays ~constant as the
  *    corpus grows — the realistic regime — instead of every doc gaining
  *    k−1 exact twins (which would grow LSH bucket self-joins
  *    quadratically by data, not by engine flaw). Rewriting (not
  *    inserting a constant salt) matters twice over: a constant
  *    per-replica token is 1/4 of every doc's token mass, which drags
  *    the whole replica's SimHash toward the salt's bit pattern and
  *    piles the corpus into a few (band, key) buckets — the measured
  *    first draft of this generator sent dedup_cc_canonical 6.2 s →
  *    303 s at 10× for exactly that reason (see SCALING.md: the
  *    boilerplate-skew experiment).
  *  - embeddings get a per-(replica, dim) deterministic jitter of ≤2e-4
  *    so replicas are near but not exact cosine duplicates; query/
  *    centroid designators (low vec_ids) exist only in replica 0, so the
  *    query set stays fixed while the corpus grows — the ANN scaling
  *    question.
  *  - events keep their timestamps (same window, k× density — a busier
  *    stream, which is what scale means for sessionization state).
  *
  * Usage: runMain graft.tools.ScaleGen <baseDir> <outDir> <replicas>
  * Never writes outside <outDir>; /root/testdata stays read-only.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleGen <baseDir> <outDir> <replicas>")
    val Array(baseDir, outDir, repStr) = args
    val k = repStr.toInt
    require(k >= 1 && k <= 1000, s"replicas out of range: $k")
    val spark = graft.GraftSession.build(graft.GraftSession.cpus())

    val KEY = 10000000L // entity-key stride between replicas
    val OKEY = 100000000L // orderkey stride (orderkeys outgrow 10^7 first)

    /** Cross the base frame with replica ids 0..k-1 and spread the
      * result over enough partitions that the write parallelizes.
      */
    def replicate(df: DataFrame): DataFrame =
      df.withColumn("r", explode(expr(s"sequence(0, ${k - 1})")))
        .repartition(math.max(8, math.min(256, 4 * k)))

    /** Write `df` as a SINGLE parquet FILE at `$outDir/$name.parquet`,
      * matching the driver fixture's one-file-per-table layout — the
      * readers glob `$name*.parquet`, so either this or the multi-part
      * layout below works. One file still scans in parallel: Spark
      * splits parquet by byte range / row group.
      */
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
      require(part.length == 1, s"expected 1 part file for $name")
      val dest = new org.apache.hadoop.fs.Path(s"$outDir/$name.parquet")
      fs.delete(dest, true)
      // clear the OTHER layout's leftovers too (ADVICE r9): regenerating
      // with parts<=1 after a multi-part run must not leave stale
      // `$name-NNNN.parquet` parts for the readers' glob to union in
      for (old <- fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$outDir/$name-[0-9]*.parquet")))
        fs.delete(old.getPath, false)
      fs.rename(part(0).getPath, dest)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[scalegen] wrote $name x$k")
    }

    /** Write `df` as `parts` range-partitioned files
      * `$outDir/$name-0000.parquet`… with STAGGERED ascending mtimes —
      * the multi-file layout for the STREAMING-read tables (VERDICT r8
      * item 5). The r8 study replayed sf10 as ONE micro-batch of 10 M
      * events (every key's whole history resident in the state store at
      * once — worst-case pressure, gc 7.7 s in sessionize), which is a
      * fixture artifact: real file streams arrive as many files over
      * time. Range-partitioning on `rangeCol` (event time) + ascending
      * mtimes makes FileStreamSource replay the parts in arrival order,
      * and `EventStream.readEvents`' cap of 4 files per trigger bounds
      * each micro-batch so the watermark advances BETWEEN batches and
      * state actually evicts mid-run — the regime a production stream
      * lives in.
      */
    def writeParts(df: DataFrame, name: String, parts: Int,
                   rangeCol: String): Unit = {
      if (parts <= 1) { write(df, name); return }
      val tmp = s"$outDir/_tmp_$name"
      df.repartitionByRange(parts, col(rangeCol))
        .sortWithinPartitions(rangeCol)
        .write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      // part-file names sort in range order (partition index prefix)
      val found = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))
        .sortBy(_.getPath.getName)
      // clear BOTH layouts' leftovers so re-runs never mix them
      fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/$name.parquet"),
        true)
      for (old <- fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$outDir/$name-*.parquet")))
        fs.delete(old.getPath, false)
      val t0 = System.currentTimeMillis()
      found.zipWithIndex.foreach { case (st, i) =>
        val dest = new org.apache.hadoop.fs.Path(
          f"$outDir/$name-$i%04d.parquet")
        fs.rename(st.getPath, dest)
        fs.setTimes(dest, t0 + i * 1000L, -1) // arrival order = range order
      }
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      println(s"[scalegen] wrote $name x$k as ${found.length} parts")
    }

    val docs = replicate(spark.read.parquet(s"$baseDir/documents.parquet"))
      .select(
        (col("doc_id") + col("r") * KEY).as("doc_id"),
        when(col("r") === 0, col("text")).otherwise(
          // rewrite every 3rd token to its per-replica variant: pure
          // function of (token, replica) — see the header comment
          concat_ws(" ", zip_with(
            split(col("text"), " "),
            sequence(lit(0), size(split(col("text"), " ")) - 1),
            (w, i) => when(i % 3 === 0,
                concat(w, lit("r"), col("r").cast("string")))
              .otherwise(w)))).as("text"),
        col("lang"), col("source"),
        col("n_chars")) // n_chars stays the BASE length: queries treat it
                        // as typed metadata, not a derived invariant
    // documents stream too (ingest-time gate/LSH): id-ranged parts
    writeParts(docs, "documents", math.min(k, 16), "doc_id")

    val emb = replicate(spark.read.parquet(s"$baseDir/embeddings.parquet"))
      .select(
        (col("vec_id") + col("r") * KEY).as("vec_id"),
        when(col("r") === 0, col("embedding")).otherwise(
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => x + ((pmod(col("vec_id") * 31 + i * 7
                + col("r") * 13, lit(401)) - 200).cast("float")
              * lit(1e-6f)))).as("embedding"),
        col("label"))
    write(emb, "embeddings")

    val events = replicate(spark.read.parquet(s"$baseDir/events.parquet"))
      .select(
        (col("event_id") + col("r") * KEY).as("event_id"),
        col("ts"),
        (col("user_id") + col("r") * KEY).as("user_id"),
        col("event_type"), col("value"), col("props"))
    // the streaming-read table: k time-ranged parts (≤ 32) so the
    // scaled stream replays as bounded micro-batches, not one mega-batch
    writeParts(events, "events", math.min(k, 32), "ts")

    val lineitem = replicate(spark.read.parquet(s"$baseDir/lineitem.parquet"))
      .select(
        (col("l_orderkey") + col("r") * OKEY).as("l_orderkey"),
        (col("l_partkey") + col("r") * KEY).as("l_partkey"),
        (col("l_suppkey") + col("r") * KEY).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    write(lineitem, "lineitem")

    val orders = replicate(spark.read.parquet(s"$baseDir/orders.parquet"))
      .select(
        (col("o_orderkey") + col("r") * OKEY).as("o_orderkey"),
        (col("o_custkey") + col("r") * KEY).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    write(orders, "orders")

    // dimension tables ride along unscaled (they are dimensions)
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val p = new java.io.File(s"$baseDir/$t.parquet")
      if (p.exists())
        write(spark.read.parquet(p.toString), t)
    }
    spark.stop()
  }
}
