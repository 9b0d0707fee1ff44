package perfbench

import graft.ops.{AnnIndex, DedupIndex, IngestionGate, LmModel, QualityModel, TextIndex}
import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `analytics`: seed-shuffled passes over every eighth (by name) of the
  * registered queries whose plans read only the star-schema and `events`
  * tables, two passes (in two seed orders) to a round.
  * Each op builds the query, plans it and executes the full physical plan
  * (`toRdd.count`, never `Dataset.count`, which lets Catalyst prune). The
  * first warm pass writes every result for the DuckDB oracle check in
  * `run.py`, and each timed op's row count must equal its row count there.
  * With `reference` (no DuckDB to run.py) [[finish]] checks those results
  * instead.
  * Traced runs end with one `CorpusPipeline.run` pass over a small
  * generated corpus ([[coverage]]), so the pipeline's layers are measured
  * on this workload.
  */
final class Analytics(h: Harness, reference: Boolean) extends Workload(h) {
  val Sf = 0.005
  val CorpusDocs = 400L
  val CorpusVecs = 400L
  val CorpusCopies = 2
  val queries: Seq[String] = Analytics.Queries.grouped(8).map(_.head).toSeq
  private val dataDir = h.dir("star")
  private val fns = graft.SparkEntry.queries

  def setup(): Unit = Gen.star(s, dataDir, h.seed, Sf)

  def warm(): Unit = {
    val results = h.dir("results")
    info("data_dir") = dataDir
    info("results_dir") = results
    info("queries") = queries
    info("oracle_sql") = queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    info("oracle") = if (reference) "spark-reference" else "duckdb"
    queries.foreach { q =>
      try {
        val df = fns(q)(s, dataDir)
        val read = df.inputFiles.map(f => new java.io.File(new java.net.URI(f).getPath))
          .map(_.getParentFile.getName.stripSuffix(".parquet")).distinct
        h.check(s"$q reads only star tables", read.nonEmpty && read.forall(Gen.StarTables.contains),
          read.mkString(","))
        df.coalesce(1).write.mode("overwrite").parquet(s"$results/$q")
      } catch { case scala.util.control.NonFatal(e) =>
        h.fail(s"$q warm pass threw ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    // a second, untimed pass of the op itself: the first timed pass
    // otherwise still pays JIT warm-up
    queries.foreach(run)
  }

  /** One op: build, plan and execute the full physical plan; its row count. */
  private def run(q: String): Long = {
    val df = h.call("SparkEntry.build")(fns(q)(s, dataDir))
    h.call("SparkEntry.plan")(df.queryExecution.executedPlan)
    h.call("SparkEntry.exec")(df.queryExecution.toRdd.count())
  }

  def loop(seconds: Double): Unit = {
    // two samples of every query per round: with one, p50 and p90 rest on
    // ten ops
    val round = h.rng.shuffle(queries) ++ h.rng.shuffle(queries)
    h.until(seconds)(_ => round.foreach { q =>
      h.op(q)((true, Map("rows" -> run(q))))
    })
  }

  /** The stand-in for the DuckDB oracle, after the loop: each warm-pass
    * result must equal, as a sorted row digest, the same query run again
    * on a reference engine setup (whole-stage codegen and adaptive
    * execution off, graft's extra optimizer rules and strategies removed),
    * so a wrong plan rewrite or codegen path still shows.
    */
  override def finish(): Unit = if (reference) {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.adaptive.enabled",
      graft.plans.TopKRewrite.EnabledKey)
    val confs = keys.map(k => k -> s.conf.getOption(k))
    val ex = s.experimental
    val (rules, strategies) = (ex.extraOptimizations, ex.extraStrategies)
    val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    keys.foreach(s.conf.set(_, "false"))
    ex.extraOptimizations = Nil
    ex.extraStrategies = Nil
    try queries.foreach { q =>
      try {
        val want = s.read.parquet(s"${h.dir("results")}/$q").collect()
        val got = fns(q)(s, dataDir).collect()
        rows(q) = want.length.toLong
        if (!h.check(s"$q matches the reference engine setup",
            Harness.digest(got) == Harness.digest(want), s"${got.length} vs ${want.length} rows")) bad += q
      } catch { case scala.util.control.NonFatal(e) =>
        h.fail(s"$q reference check threw ${String.valueOf(e.getMessage).take(200)}")
        bad += q
      }
    } finally {
      confs.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      ex.extraOptimizations = rules
      ex.extraStrategies = strategies
    }
    info("result_rows") = rows.toMap
    info("reference_bad") = bad.toSeq
  }

  override def coverage(): Unit = {
    val corpus = h.dir("corpus")
    Gen.writeDocs(s, corpus, h.seed, CorpusDocs, CorpusVecs, CorpusCopies)
    val (_, dg, n) = Corpus.pass(h, corpus, h.dir("shards"))
    info("shard_digest") = dg
    info("shard_rows") = n
  }
}

object Analytics {
  /** The registered queries whose plans read only the star-schema and
    * `events` tables (the warm pass re-checks this on every run).
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_revenue_by_period", "q03_segment_value",
    "q04_clean_strings", "q05_dual_format_dates", "q06_currency_strip",
    "q07_null_guards", "q09_surrogate_keys", "q09b_drop_duplicates",
    "q100_forward_fill", "q105_winsorize", "q10_join_using", "q110_fuzzy_join",
    "q112_merge_upsert", "q11_join_expr_drop", "q124_fuzzy_join2",
    "q126_ewma_engagement", "q127_mad_outliers", "q12_join_datekey",
    "q13_join_multihop", "q14_join_semi", "q15_join_anti", "q16_join_outer",
    "q17_window_lag", "q18_topk_per_group", "q197_zorder_key",
    "q19_conditional_agg", "q20_global_stats", "q21_null_profile",
    "q21b_coverage_ratio", "q21c_fact_quality", "q22_distinct_counts",
    "q22b_approx_distinct", "q23_top_orders", "q24_set_ops", "q25_rollup",
    "q26_risk_scores", "q27_sessionize", "q28_json_extract",
    "q29_quarter_revenue", "q43_asof_join", "q43b_native_asof",
    "q44_window_frames", "q45_collect_list", "q46_cube", "q47_pivot",
    "q50_salted_agg", "q51_percentiles", "q51b_approx_percentiles",
    "q52_histogram", "q53_dispersion", "q54_event_windows", "q55_range_join",
    "q56_typed_agg", "q58_native_topk", "q59_sql_interface",
    "q61b_regex_extract_all", "q63_retention", "q64_funnel", "q66_skew_profile",
    "q71_grouping_sets", "q72_string_agg", "q73_subqueries", "q74_window_ranks",
    "q81_quantile_buckets", "q82_session_windows", "q83_interval_join",
    "q84_window_navigation", "q85_map_functions", "q88_argminmax",
    "q89_unpivot", "q92_calendar_strings", "q94_zorder_cells", "q95_bool_aggs",
    "q96_variant_extract", "q98_scd2_intervals", "q99_window_dedup")
}

/** Builds the serve and intake layouts over one generated corpus. */
final class Layouts(h: Harness, val root: String) {
  def data: String = s"$root/data"
  def docs: DataFrame = h.spark.read.parquet(s"$data/documents.parquet")
    .select(col("doc_id"), col("text"))
  def vecs: DataFrame = h.spark.read.parquet(s"$data/embeddings.parquet")
    .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
  def text = s"$root/text"
  def dedup = s"$root/dedup"
  def lm = s"$root/lm"
  def qm = s"$root/qm"
  def sem = s"$root/sem"
  def scaled = s"$root/scaled"
  def accepted = s"$root/accepted"

  def generate(nDocs: Long, nVecs: Long): Unit = Gen.writeDocs(h.spark, data, h.seed, nDocs, nVecs)
  def buildText(): Unit = h.call("TextIndex.write")(TextIndex.write(h.spark, data, text))
  def buildDedup(): Unit = h.call("DedupIndex.write")(DedupIndex.write(h.spark, docs, dedup))
  def buildLm(): Unit = h.call("LmModel.write")(LmModel.write(h.spark, docs, lm))
  def buildQm(): Unit = h.call("QualityModel.write")(QualityModel.write(h.spark, docs, qm))
  def buildSem(): Unit = h.call("IngestionGate.writeSemantic")(IngestionGate.writeSemantic(h.spark, vecs, sem))
  def buildScaled(): Unit = h.call("AnnIndex.writeScaled")(AnnIndex.writeScaled(h.spark, data, scaled))
}

/** A stream of intake batches against one set of layouts. Each batch
  * re-submits, under new ids, the text of `batch / 2` seed-picked docs of
  * the corpus or of earlier admissions, and adds `batch / 2` novel docs.
  * One batch is `IngestionGate.gateBatch`, a `TextIndex.append` of its
  * admissions and a `TextIndex.delete` of `deletes` seed-picked live ids;
  * it must admit only novel docs.
  */
final class IntakeStream(h: Harness, x: Layouts, batch: Int, deletes: Int, maxBatches: Int) {
  private def s = h.spark
  val cfg = IngestionGate.Config(x.dedup, x.lm, x.accepted)
  val dirs = Seq(x.text, x.dedup, x.lm, x.accepted)
  private val novelPool: Array[(Long, String)] =
    Gen.documents(s, h.seed + 7, maxBatches * batch / 2, idBase = 20000000L)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
  private val texts = scala.collection.mutable.ArrayBuffer.from(
    x.docs.collect().map(r => (r.getLong(0), r.getString(1))))
  private val live = scala.collection.mutable.LinkedHashSet.from(texts.map(_._1))
  var batches = 0
  var admitted = 0L
  var last: Seq[(Long, String)] = Nil

  /** Runs the next batch; returns (output ok, admitted count). */
  def next(): (Boolean, Long) = {
    require(batches < maxBatches, "intake ran out of generated batches")
    val b = batches
    batches += 1
    val base = 30000000L + b * 1000L
    val resub = Seq.fill(batch / 2)(texts(h.rng.nextInt(texts.size))._2)
      .zipWithIndex.map { case (t, i) => (base + i, t) }
    val novel = novelPool.slice(b * batch / 2, (b + 1) * batch / 2).toSeq
    val liveIds = live.toIndexedSeq
    val dels = Seq.fill(deletes)(liveIds(h.rng.nextInt(liveIds.size))).distinct
    val df = s.createDataFrame(resub ++ novel).toDF("doc_id", "text")
    val fresh = h.call("IngestionGate.gateBatch", dirs)(IngestionGate.gateBatch(s, cfg, df))
    val got = fresh.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    h.call("TextIndex.append", Seq(x.text))(TextIndex.append(s, x.text, fresh.select("doc_id", "text")))
    h.call("TextIndex.delete", Seq(x.text))(TextIndex.delete(s, x.text,
      s.createDataFrame(dels.map(Tuple1(_))).toDF("doc_id")))
    graft.Reliable.release(fresh)
    val novelIds = novel.map(_._1).toSet
    val ok = h.check(s"intake batch $b admits only novel docs",
      got.nonEmpty && got.forall(d => novelIds(d._1)), s"admitted ${got.map(_._1).mkString(",")}")
    texts ++= got
    live ++= got.map(_._1)
    live --= dels
    admitted += got.length
    last = got.toSeq
    (ok, got.length.toLong)
  }

  /** The accepted sink must hold exactly the summed admissions. */
  def checkSink(): Long = {
    val sink = IngestionGate.accepted(s, cfg).count()
    h.check("accepted sink holds every admission", sink == admitted, s"$sink != $admitted")
    sink
  }
}

/** `serve`: read-only calls against layouts built once in set-up (the ANN
  * calls search the frozen-quantizer index `writeSemantic` builds). The
  * seed picks each call kind's probe; every call of a kind re-serves that
  * probe, so its result digest must equal the warm pass's.
  * Half of each document probe is exact copies of corpus docs under new
  * ids, which the dedup call must flag. Traced runs end with
  * `AnnIndex.writeScaled`, one small batch down the intake path
  * ([[IntakeStream]]) and one 4-stage `IngestionGate.decide` call
  * ([[coverage]]), so those layers are measured on this workload.
  */
final class Serve(h: Harness) extends Workload(h) {
  val NDocs = 600L
  val NVecs = 300L
  val ProbeDocs = 20
  val IntakeDocs = 20
  private val l = new Layouts(h, h.dir("serve"))

  def setup(): Unit = {
    l.generate(NDocs, NVecs)
    l.buildText(); l.buildDedup(); l.buildLm(); l.buildQm(); l.buildSem()
  }

  /** `AnnIndex.writeScaled` over the corpus vectors, which must assign
    * every vector; one intake batch; then a 4-stage `decide` (near-dup,
    * LM, quality, semantic) on that batch's admissions re-submitted under
    * new ids beside as many novel docs, each with a fresh vector: it must
    * admit none of the re-submits.
    */
  override def coverage(): Unit = {
    l.buildScaled()
    val assigned = AnnIndex.load(s, l.scaled).assigned.count()
    h.check("writeScaled assigns every vector", assigned == NVecs, s"$assigned != $NVecs")
    val st = new IntakeStream(h, l, IntakeDocs, deletes = 3, maxBatches = 1)
    st.next()
    h.checks("intake_admitted") = st.admitted
    st.checkSink()
    val resub = st.last.zipWithIndex.map { case ((_, t), i) => (40000000L + i, t) }
    val novel = Gen.documents(s, h.seed + 9, resub.size.toLong, idBase = 41000000L)
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val vecs = Gen.embeddings(s, h.seed + 9, (resub.size + novel.length).toLong)
      .select(col("vec_id").as("k"), VectorFunctions.asDouble(col("embedding")).as("v"))
    val probe = s.createDataFrame((resub ++ novel).zipWithIndex.map { case ((id, t), k) => (id, t, k.toLong) })
      .toDF("doc_id", "text", "k").join(vecs, "k").drop("k").localCheckpoint()
    val cfg = st.cfg.copy(qualityDir = Some(l.qm), semanticDir = Some(l.sem))
    val got = h.call("IngestionGate.decide")(
      IngestionGate.decide(s, cfg, probe).select("doc_id").collect().map(_.getLong(0)))
    val resubIds = resub.map(_._1).toSet
    h.check("decide admits no re-submitted doc", resub.nonEmpty && !got.exists(resubIds),
      s"admitted ${got.mkString(",")}")
    h.checks("decide_admitted") = got.length
  }

  private type Rows = Array[org.apache.spark.sql.Row]
  private case class Kind(name: String, run: () => DataFrame, check: Rows => Boolean)
  private var kinds: Seq[Kind] = Nil
  private val expected = scala.collection.mutable.Map.empty[String, String]

  /** The document probe: half exact copies of seed-picked corpus docs
    * under new ids, half novel docs. Returns it and the ids of its copies.
    */
  private def docProbe(): (DataFrame, Set[Long]) = {
    val picks = h.pick(NDocs, ProbeDocs / 2)
    val base = 10000000L
    val dups = l.docs.filter(col("doc_id").isin(picks: _*))
      .select((col("doc_id") + base).as("doc_id"), col("text"))
    val novel = Gen.documents(s, h.seed + 1, ProbeDocs / 2, idBase = base + 500000L)
      .select(col("doc_id"), col("text"))
    (dups.unionByName(novel).localCheckpoint(), picks.map(_ + base).toSet)
  }

  def warm(): Unit = {
    val ix = AnnIndex.load(s, s"${l.sem}/ann")
    val tix = TextIndex.load(s, l.text)
    val vecs = l.vecs.localCheckpoint()
    val vq = vecs.filter(col("vec_id").isin(h.pick(NVecs, 8): _*))
      .select(col("vec_id").as("qid"), col("v")).localCheckpoint()
    val words = h.pick(Gen.Vocab.size, 3).map(i => Gen.Vocab(i.toInt))
    val phrase = {
      val t = l.docs.filter(col("doc_id") === h.rng.nextInt(NDocs.toInt)).head().getString(1)
        .split(" ")
      val i = h.rng.nextInt(t.length - 1)
      Seq(t(i), t(i + 1))
    }
    val (text, dupIds) = docProbe()
    def ids(r: Rows, c: String): Set[Long] = r.map(_.getAs[Long](c)).toSet
    val nonEmpty = (r: Rows) => r.nonEmpty
    val flagged = (r: Rows) =>
      dupIds.subsetOf(ids(r.filter(_.getAs[Double]("est_jaccard") >= 1.0), "batch_id"))
    kinds = Seq(
      Kind("AnnIndex.search", () => AnnIndex.search(s, ix, vq, 4, 10), nonEmpty),
      Kind("AnnIndex.searchRerank", () => AnnIndex.searchRerank(s, ix, vecs, vq, 10), nonEmpty),
      Kind("TextIndex.search", () => TextIndex.search(s, tix, words, 10), nonEmpty),
      Kind("TextIndex.phraseSearch", () => TextIndex.phraseSearch(s, tix, phrase), nonEmpty),
      Kind("DedupIndex.queryBatch", () => DedupIndex.queryBatch(s, l.dedup, text), flagged),
      Kind("LmModel.scoreBatch", () => LmModel.scoreBatch(s, l.lm, text), nonEmpty),
      Kind("QualityModel.scoreBatch", () => QualityModel.scoreBatch(s, l.qm, text), nonEmpty))
    info("probe_docs") = ProbeDocs
    info("exact_duplicate_probes") = dupIds.size
    kinds.foreach(k => expected(k.name) = serveOnce(k)._2)
    // a second, untimed round: the first timed round otherwise still pays
    // JIT warm-up
    kinds.foreach(serveOnce)
  }

  /** One call, executed in full: (output check passed, digest, rows). */
  private def serveOnce(k: Kind): (Boolean, String, Long) = {
    val rows = h.call(k.name) {
      val r = k.run().collect()
      h.trace.foreach(_.attr(k.name, "result_rows", r.length.toLong))
      r
    }
    val dg = Harness.digest(rows)
    val ok = h.check(s"${k.name} output", k.check(rows)) &&
      expected.get(k.name).forall(e => h.check(s"${k.name} digest", e == dg, s"$e != $dg"))
    (ok, dg, rows.length.toLong)
  }

  def loop(seconds: Double): Unit = h.until(seconds) { _ =>
    kinds.foreach(k => h.op(k.name) {
      val (ok, _, n) = serveOnce(k)
      (ok, Map("rows" -> n))
    })
  }
}

/** `intake`: the mutating path. From freshly built layouts, a fixed
  * sequence of seed-chosen 100-doc batches goes through [[IntakeStream]]:
  * half of each batch re-submits, under new ids, the text of corpus docs
  * or of docs admitted earlier, and half is novel. Each op is one batch:
  * the gate, a `TextIndex.append` of its admissions and a
  * `TextIndex.delete` of seed-chosen earlier ids.
  */
final class Intake(h: Harness) extends Workload(h) {
  val NDocs = 1000L
  val Batch = 100
  private val l = new Layouts(h, h.dir("intake"))

  def setup(): Unit = {
    l.generate(NDocs, 1L)
    l.buildText(); l.buildDedup(); l.buildLm()
  }

  private lazy val stream = new IntakeStream(h, l, Batch, deletes = 5, maxBatches = 60)
  private var diskBefore = 0L

  /** The first batch of the stream, untimed. */
  def warm(): Unit = stream.next()

  def loop(seconds: Double): Unit = {
    diskBefore = h.diskUsage(stream.dirs)._1
    h.until(seconds) { _ =>
      h.op("intake.batch") {
        val (ok, n) = stream.next()
        (ok, Map("docs" -> Batch, "admitted" -> n))
      }
    }
  }

  override def finish(): Unit = {
    val st = stream
    val diskAfter = h.diskUsage(st.dirs)._1
    info("disk_bytes_per_doc") = (diskAfter - diskBefore).toDouble / math.max(1L, st.admitted)
    info("batches") = st.batches
    info("admitted") = st.admitted
    h.checks("sink_rows") = st.checkSink()
    val again = IngestionGate.gateBatch(s, st.cfg, s.createDataFrame(st.last).toDF("doc_id", "text"))
    val readmitted = again.count()
    h.check("re-submitting an admitted batch admits nothing", readmitted == 0L, s"$readmitted admitted")
    h.checks("resubmit_admitted") = readmitted
  }
}

/** `corpus`: whole `CorpusPipeline.run` passes over a corpus generated in
  * set-up, each copy of which has its own seeded vocabulary. Every pass
  * must write the same shards (digest equal to the warm pass's).
  */
final class Corpus(h: Harness) extends Workload(h) {
  val NDocs = 2000L
  val NVecs = 2000L
  val Copies = 4
  private val data = h.dir("corpus")
  private var expected = ""

  def setup(): Unit = Gen.writeDocs(s, data, h.seed, NDocs, NVecs, Copies)

  def warm(): Unit = {
    val (_, dg, n) = Corpus.pass(h, data, h.dir("shards-warm"))
    expected = dg
    info("shard_digest") = dg
    info("shard_rows") = n
    info("docs") = NDocs
  }

  def loop(seconds: Double): Unit = h.until(seconds) { i =>
    h.op("CorpusPipeline.run") {
      val (ok, dg, _) = Corpus.pass(h, data, h.dir(s"shards$i"))
      (ok && h.check("corpus shard digest", dg == expected, s"$dg != $expected"), Map("docs" -> NDocs))
    }
  }
}

object Corpus {
  /** One traced `CorpusPipeline.run` pass from `src` into `out`; its shards
    * must be non-empty with no `doc_id` repeated across them. Returns
    * (shards ok, digest, rows).
    */
  def pass(h: Harness, src: String, out: String): (Boolean, String, Long) = {
    val back = h.call("CorpusPipeline.run")(graft.CorpusPipeline.run(h.spark, src, out))
    val rows = back.select("doc_id", "text", "split", "pack_id").collect()
    val ids = rows.map(_.getLong(0))
    val ok = h.check("corpus shards repeat no doc_id", ids.distinct.length == ids.length) &&
      h.check("corpus shards are non-empty", rows.nonEmpty)
    (ok, Harness.digest(rows), rows.length.toLong)
  }
}
