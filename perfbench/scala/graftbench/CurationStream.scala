package graftbench

import org.apache.spark.sql.SparkSession

/** `curation_stream`: one closed loop over graft's batch curation
  * operators and its Structured Streaming verbs, alternating:
  *
  *  - curation, on a seeded corpus of documents and embeddings: n-gram
  *    near-duplicate pairs, clusters, survivors, and ANN top-k with its
  *    recall check;
  *  - streaming, each a `Trigger.AvailableNow` query: the LakeTable
  *    commit-log source (`readStream.format("graft")`, `LakeStream`) over
  *    a staged orders table, and, on a seeded event backlog split into part
  *    files, `transformWithState` and the `foreachBatch` MERGE into a
  *    LakeTable.
  *
  * A run measures one cycle: every verb once, on a corpus nothing has
  * touched before, in a JVM that has not run them yet — the user's first
  * pass. (The other workloads warm up; a warm cycle here would double the
  * run.) Every verb writes its
  * result as parquet; the runner checks each against the registry's
  * DuckDB oracle for that row.
  *
  * Set-up is the registry's staged set-up of the staged rows: the cluster
  * labels of the set-up corpus persisted as a LakeTable, which the
  * survivors verb then serves from, and the orders LakeTable (a create and
  * two appends) that the commit-log stream reads.
  */
object CurationStream extends Workload {
  /** (metric name, registry row, corpus it reads, table whose rows are its
    * items). The corpora `labels` (set-up) and `c0` (measured) are written
    * by gen.py.
    */
  val verbs: Seq[(String, String, String, String)] = Seq(
    ("dedup_ngram", "q_dedup_ngram", "c0", "documents"),
    ("stream_lake_v2", "stream_lake_v2", "c0", "orders"),
    ("dedup_clusters", "q_dedup_clusters", "c0", "documents"),
    ("stream_tws", "stream_tws", "c0", "events"),
    ("dedup_canonical", "q_dedup_canonical", "labels", "documents"),
    ("stream_upsert", "stream_upsert", "c0", "events"),
    ("ann_ivf", "q_knn_ivf_recall", "c0", "embeddings"))

  /** Runs one verb: builds its DataFrame (stream verbs run their query to
    * completion here) and writes the result.
    */
  def verb(spark: SparkSession, name: String, row: String, dir: String, out: String,
      trace: Boolean): Unit = {
    val q = graft.Registry.byName(row)
    val stream = row.startsWith("stream_")
    val rdds0 = if (trace) spark.sparkContext.getPersistentRDDs.size else 0
    if (stream) {
      org.apache.spark.sql.graftglue.Glue.unloadStateStores()
      Rec.streamParent = Rec.currentSpan
    }
    val (build, exec) = if (stream) ("stream.start", "stream.exec") else (s"ops.$name.build", s"ops.$name.exec")
    // A staged row's verb serves from what its set-up staged.
    val df = Rec.span(build, name)(q.verb.getOrElse(q.run)(spark, dir))
    Rec.span(exec, name)(df.write.mode("overwrite").parquet(out))
    if (trace && !stream) {
      Rec.sample("ops.persisted_rdds", spark.sparkContext.getPersistentRDDs.size - rdds0)
      if (name == "dedup_ngram") graft.operators.DedupGuard.decision("ngramPairs").foreach { d =>
        val pairs = spark.read.parquet(out).count()
        Rec.sample("dedup.candidates_per_pair", d.refined.getOrElse(d.coarse).toDouble / math.max(1L, pairs))
      }
    }
  }

  def run(spark: SparkSession, ctx: Ctx): Map[String, Any] = {
    val items = verbs.map { case (name, _, tag, table) =>
      name -> spark.read.parquet(s"${ctx.data(tag)}/$table.parquet").count()
    }.toMap
    Main.setupReps(3)(_ => verbs.foreach { case (_, row, tag, _) =>
      graft.Registry.byName(row).setup.foreach(_(spark, ctx.data(tag)))
    })

    // One cycle: every verb once, on inputs no earlier call has seen.
    val w0 = Main.sparkSnapshot(ctx)
    verbs.foreach { case (name, row, tag, _) =>
      val dir = ctx.data(tag)
      val out = s"${ctx.work}/out/$name"
      val ok = Rec.op(s"pipe.$name", items(name).toDouble) {
        Rec.span(if (row.startsWith("stream_")) "stream.query" else "ops.verb", name) {
          verb(spark, name, row, dir, out, ctx.trace)
        }
        true
      }
      if (ok) Rec.checks.add(Map("name" -> name, "result" -> out, "data" -> dir,
        "oracle" -> graft.Registry.byName(row).oracle.getOrElse("")))
    }
    val w1 = Main.sparkSnapshot(ctx)
    Map("window" -> Map("start" -> w0, "end" -> w1), "items" -> items)
  }
}
