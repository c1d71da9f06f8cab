package graft

import org.apache.spark.sql.functions._

/** Invariants of the round-4 corpus operators — incremental dedup (d14),
  * centroid outliers (s07), unigram log-prob (t08) — at sf0.001.
  * Value-exactness is the DuckDB oracle's job; these pin the structural
  * properties the oracle can't state. */
class CorpusOpsSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("d14 incremental dedup only drops batch docs against base matches") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bound = math.floor(
      docs.agg(max("doc_id")).head().getLong(0) * 0.8).toLong
    val rows = operators.DedupOps.queries("d14_incremental_dedup")(spark, sf).collect()
    rows.foreach { r =>
      val (docId, matchId, jacBp) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(docId > bound, s"dropped doc $docId must come from the batch slice")
      assert(matchId <= bound, s"match $matchId must come from the base corpus")
      assert(jacBp >= operators.DedupOps.NearDupBp,
        "only verified near-dups are dropped")
    }
    assert(rows.map(_.getLong(0)).distinct.length == rows.length,
      "one best match per dropped batch doc")
  }

  test("s07 centroid outliers: 3 ranked rows per label, cosine ascending") {
    val rows = operators.SimilarityOps.queries("s07_centroid_outliers")(spark, sf).collect()
    val byLabel = rows.groupBy(_.getInt(0))
    byLabel.foreach { case (label, rs) =>
      assert(rs.length == 3, s"label $label must rank exactly 3 outliers")
      assert(rs.map(_.getInt(3)).sorted.sameElements(Array(1, 2, 3)))
      val cs = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a <= b },
        s"label $label: outlier rank must order by ascending cosine")
      cs.foreach(c => assert(c >= -1.0001 && c <= 1.0001))
    }
  }

  test("d15 semantic dedup: books balance and the diversity anchor survives") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("d15_semantic_dedup")(spark, sf01).collect()
    val emb = spark.read.parquet(s"$sf01/embeddings.parquet")
    val nLabels = emb.select("label").distinct().count()
    assert(rows.length == nLabels, "one summary row per cluster")
    assert(rows.map(r => r.getLong(1)).sum == emb.count(), "n_vecs partitions the corpus")
    rows.foreach { r =>
      val (nVecs, nRemoved, nKept) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nRemoved + nKept == nVecs, s"label ${r.getInt(0)}: books must balance")
      // each pair prunes its member NEARER the centroid, so the label's
      // farthest-from-centroid vector wins every comparison and survives
      assert(nKept >= 1, s"label ${r.getInt(0)}: the diversity anchor survives")
    }
    assert(rows.map(_.getLong(2)).sum > 0, "the sf0.01 corpus has semantic dups to prune")
  }

  test("d17 bloom contamination is row-identical to the plain d11 join") {
    val sf01 = "/root/testdata/sf0.01"
    def rows(name: String) =
      operators.DedupOps.queries(name)(spark, sf01).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val plain = rows("d11_contamination")
    val bloom = rows("d17_bloom_contamination")
    assert(bloom == plain,
      "the Bloom prefilter must be exactness-preserving (no false negatives; " +
        "false positives die in the exact join)")
    assert(plain.nonEmpty, "the sf0.01 corpus has contaminated eval docs")
  }

  test("d18 prune stats agree with d12's cluster census") {
    val sf01 = "/root/testdata/sf0.01"
    val d12 = operators.DedupOps.queries("d12_dedup_clusters")(spark, sf01).collect()
    val rows = operators.DedupOps.queries("d18_dedup_prune_stats")(spark, sf01).collect()
    val nDocs = rows.map(_.getLong(1)).sum
    val nKept = rows.map(_.getLong(2)).sum
    assert(nDocs == d12.length, "d18 partitions the same corpus d12 labels")
    assert(nKept == d12.map(_.getLong(1)).distinct.length,
      "survivors = one canonical per cluster (incl. singletons)")
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1),
        s"source ${r.getString(0)}: kept + removed must cover the source")
    }
    assert(nKept < nDocs, "the sf0.01 corpus has near-dups to prune")
  }

  test("d18a/d18b bisect diagnostics are consistent with d18's rollup") {
    val sf01 = "/root/testdata/sf0.01"
    val edges = operators.DedupOps.queries("d18a_verified_edges")(spark, sf01).collect()
    val census = operators.DedupOps.queries("d18b_cluster_census")(spark, sf01).collect()
    val d18 = operators.DedupOps.queries("d18_dedup_prune_stats")(spark, sf01).collect()
    assert(edges.nonEmpty, "the sf0.01 corpus has verified near-dup edges")
    edges.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "edges are canonical (d1 < d2)")
      assert(r.getLong(2) >= operators.DedupOps.NearDupBp,
        "every dumped edge clears the verify threshold")
    }
    // census members = distinct endpoints of the edge dump (CC never
    // invents or drops nodes), clusters are labelled by their min member
    val endpoints = edges.flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(census.map(_.getLong(1)).sum == endpoints.size.toLong,
      "census covers exactly the edge endpoints")
    assert(census.forall(_.getLong(1) >= 2L), "no singleton clusters from an edge graph")
    assert(census.map(_.getLong(0)).toSet.subsetOf(endpoints),
      "every cluster label is one of its members")
    // d18's removed count = clustered nodes minus one canonical each
    val removed = d18.map(_.getLong(3)).sum
    assert(removed == endpoints.size.toLong - census.length,
      "d18 removes every clustered doc except each cluster's canonical")
  }

  test("t11 bigram log-prob: n_big = tokens-1, smoothed probabilities < 1") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.TextOps.queries("t11_bigram_logprob")(spark, sf01).collect()
    assert(rows.length == 200, "every sf0.01 doc has >= 2 tokens")
    val tokCounts = spark.read.parquet(s"$sf01/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("n_tok"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (docId, nBig, avgLogp) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(nBig == tokCounts(docId) - 1L,
        s"doc $docId: one bigram per adjacent token pair")
      // additive smoothing keeps every P(w2|w1) strictly below 1 for a
      // vocabulary of more than one token, so the mean ln is negative
      assert(avgLogp < 0.0, s"doc $docId: smoothed log-prob must be negative")
    }
  }

  test("d16 threshold sweep: monotone non-increasing in tau, one row per tau") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.DedupOps.queries("d16_threshold_sweep")(spark, sf01).collect()
    assert(rows.map(_.getLong(0)).sameElements((2 to 9).map(_ * 1000L)),
      "one row per threshold, ascending")
    val pairs = rows.map(_.getLong(1))
    val removed = rows.map(_.getLong(2))
    assert(pairs.zip(pairs.tail).forall { case (a, b) => a >= b },
      "raising tau can only shrink the surviving pair set")
    assert(removed.zip(removed.tail).forall { case (a, b) => a >= b },
      "raising tau can only shrink the removal set")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        "every removed doc needs at least one surviving pair")
    }
    assert(pairs.head > 0, "the sf0.01 corpus has verified near-dup pairs at tau=0.2")
  }

  test("s02/s05 multi-table LSH: recall floor >= 70%, candidates <= 10%") {
    // sf0.01 (500 vectors): the smallest scale where a 10%-of-corpus
    // candidate bound can even contain a top-10 (sf0.001 has 50 vectors).
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("s05_ann_recall")(spark, sf01).collect()
    assert(rows.length == 5, "one gate row per query vector")
    val recalls = rows.map(_.getLong(3))
    assert(recalls.sum / recalls.length >= 7000,
      s"mean recall@10 must hold the 70% floor: got bp=${recalls.mkString(",")}")
    rows.foreach { r =>
      assert(r.getLong(5) <= 1000,
        s"candidate set must stay <= 10% of corpus: got ${r.getLong(5)} bp")
      assert(r.getLong(4) >= r.getLong(2), "hits can never exceed candidates")
    }
    val s02 = operators.SimilarityOps.queries("s02_ann_signlsh")(spark, sf01).collect()
    assert(s02.length == 5, "s02 re-ranks its candidates to a full top-5")
  }

  test("s09 table sweep: recall and candidates monotone in H; r64 = s05 recall") {
    val sf01 = "/root/testdata/sf0.01"
    val sweep = operators.SimilarityOps.queries("s09_lsh_table_sweep")(spark, sf01)
      .collect().map(r => r.getLong(0) -> r).toMap
    val s05 = operators.SimilarityOps.queries("s05_ann_recall")(spark, sf01)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(sweep.size == 5)
    sweep.foreach { case (qid, r) =>
      val recalls = (1 to 4).map(r.getLong) // r8, r16, r32, r64
      val cands = (5 to 8).map(r.getLong) // c8, c16, c32, c64
      assert(recalls == recalls.sorted, s"recall must not drop as H grows: $recalls")
      assert(cands == cands.sorted, s"candidates must not drop as H grows: $cands")
      assert(recalls.last == s05(qid),
        s"all 64 tables must reproduce s05's recall for q$qid")
    }
  }

  test("t10 PII scan finds exactly the laced hits and redaction shortens text") {
    val rows = operators.TextOps.queries("t10_pii_scan")(spark, sf).collect()
    assert(rows.nonEmpty)
    val base = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (id, em, ph, ip) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(em == (if (id % 3 == 0) 1 else 0), s"doc $id email count")
      assert(ph == (if (id % 5 == 0) 1 else 0), s"doc $id phone count")
      assert(ip == (if (id % 7 == 0) 1 else 0), s"doc $id ip count")
      if (em + ph + ip == 0) // unlaced docs redact to their original length
        assert(r.getLong(4) == base(id), s"doc $id length must be untouched")
    }
  }

  test("t08 unigram log-prob is negative and token-count-consistent") {
    val rows = operators.TextOps.queries("t08_unigram_logprob")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getDouble(2) < 0, "ln of a probability < 1 must be negative")
    }
  }

  test("bucketed co-located join plans with no exchange on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val dir = tmpDir("bk-spec")
      val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type")
      ev.write.mode("overwrite").option("path", s"$dir/a")
        .bucketBy(8, "user_id").sortBy("user_id").saveAsTable("bk_spec_a")
      ev.write.mode("overwrite").option("path", s"$dir/b")
        .bucketBy(8, "user_id").sortBy("user_id").saveAsTable("bk_spec_b")
      val joined = spark.table("bk_spec_a")
        .join(spark.table("bk_spec_b"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucket-aligned join must not shuffle either side:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bk_spec_a")
      spark.sql("DROP TABLE IF EXISTS bk_spec_b")
    }
  }

  test("streaming session windows match batch gap-sessionization") {
    val stream = operators.EngineE2E.queries("e2e_stream_session")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val seed = Tables.events(spark, sf).orderBy("event_id").limit(1000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val batch = seed
      .withColumn("brk", when(lag("ts", 1).over(w).isNull ||
        col("ts") >= lag("ts", 1).over(w) + expr("INTERVAL 1 HOUR"), 1).otherwise(0))
      .groupBy("user_id")
      .agg(sum("brk").as("n_sessions"), count(lit(1)).as("n_events"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stream == batch, "session_window must equal gap-based sessionization")
  }

  test("q41 salting spreads every hot key across the salt space") {
    // sf0.01: the sf0.001 hottest key (~210 rows) is thinner than the
    // ~8-rows-per-shard floor the statistical bound needs; one size up
    // gives ~2k rows → ideal shard ~63, comfortably judgeable
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val saltN = 32
    val perKey = ev.groupBy("event_type").count()
      .agg(max("count")).head().getLong(0)
    val perSalted = ev
      .withColumn("salt", pmod(hash(col("event_id")), lit(saltN)))
      .groupBy("event_type", "salt").count()
      .agg(max("count")).head().getLong(0)
    // the hottest (key, salt) shard must be close to the perfect 1/saltN
    // split of the hottest unsalted key. The bound derives from the
    // OBSERVED hot-key count (4× the ideal shard, a generous skew
    // allowance), so a regenerated fixture with a thinner hottest key
    // tightens/loosens the bound with it instead of flaking; below 8
    // rows per shard the statistics are meaningless, so skip.
    val ideal = (perKey + saltN - 1) / saltN
    assume(ideal >= 8, s"hottest key too thin to judge salting (perKey=$perKey)")
    assert(perSalted <= ideal * 4,
      s"salting must spread hot keys: max/key=$perKey, max/(key,salt)=$perSalted, ideal=$ideal")
  }

  test("t09 vocab coverage is monotone and bounded") {
    val rows = operators.TextOps.queries("t09_vocab_coverage")(spark, sf).collect()
    assert(rows.length == 3)
    val bps = rows.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(bps.zip(bps.tail).forall { case (a, b) => a <= b },
      "coverage must not decrease with vocab size")
    assert(bps.forall(bp => bp > 0 && bp <= 10000))
  }

  test("p06 length histogram partitions the corpus") {
    val rows = operators.PipelineOps.queries("p06_length_histogram")(spark, sf).collect()
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == total, "every doc is in exactly one bucket")
  }

  test("stream-static enrichment matches the batch join") {
    val stream = operators.EngineE2E.queries("e2e_stream_enrich")(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val seed = Tables.events(spark, sf).orderBy("event_id").limit(1000)
    val dim = Tables.customer(spark, sf)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
    val batch = seed.join(dim, "user_id")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(stream == batch, "per-micro-batch broadcast join must equal batch join")
  }

  test("streaming dedup and stream-stream join match their batch twins") {
    val ded = operators.EngineE2E.queries("e2e_stream_dedup")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seed = Tables.events(spark, sf).orderBy("event_id").limit(1000)
    val batchDed = seed.groupBy("event_type")
      .agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ded == batchDed, "streaming dropDuplicates must equal batch distinct")

    val joined = operators.EngineE2E.queries("e2e_stream_join")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e = seed.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("uid"), col("ts").as("e_ts"))
    val c = seed.filter(col("event_type") === "click")
      .select(col("user_id").as("uid"), col("ts").as("c_ts"))
    val batchJoin = e.join(c, Seq("uid"))
      .filter(col("c_ts") > col("e_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("e_ts"))
      .groupBy("err_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(joined == batchJoin, "stream-stream interval join must equal batch join")
  }

  test("t12 gopher rules: fail counts bound survivors, sources partition the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = operators.TextOps.queries("t12_gopher_rules")(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == docs.count(), "n_docs partitions the corpus")
    rows.foreach { r =>
      val nDocs = r.getLong(1)
      val fails = (2 to 6).map(r.getLong)
      val nPass = r.getLong(7)
      fails.foreach(f => assert(f >= 0 && f <= nDocs))
      // every per-rule failure excludes that doc from n_pass
      fails.foreach(f => assert(nPass <= nDocs - f,
        s"source ${r.getString(0)}: survivors can't exceed docs minus any rule's fails"))
      assert(nPass >= nDocs - fails.sum, "a doc failing k rules is still ONE failed doc")
    }
  }

  test("t13 ttr: types bound tokens, hapax bound types, bp fields consistent") {
    val rows = operators.TextOps.queries("t13_ttr_diversity")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nTok, nTypes, nHapax) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nTypes <= nTok && nHapax <= nTypes)
      assert(r.getLong(4) == math.floor(nTypes * 10000.0 / math.max(nTok, 1)).toLong)
      assert(r.getLong(5) == math.floor(nHapax * 10000.0 / math.max(nTypes, 1)).toLong)
    }
  }

  test("s11 two-stage: 10 re-ranked rows, descending, in_exact consistent with s01") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("s11_two_stage")(spark, sf01).collect()
    assert(rows.length == 10, "re-rank returns exactly top-10")
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10), "rn is dense 1..10")
    val cs = rows.map(_.getDouble(2))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "cos descends")
    val exact = operators.SimilarityOps.queries("s01_cosine_topk")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    rows.foreach { r =>
      val flagged = r.getLong(3) == 1L
      assert(flagged == exact.contains(r.getLong(1)),
        "in_exact must agree with the brute-force top-10")
    }
  }

  test("s12 CoarseK sweep: recall monotone non-decreasing, s11-consistent at K=100") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("s12_coarsek_sweep")(spark, sf01).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(10L, 25L, 50L, 100L))
    val hits = rows.map(_.getLong(1))
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b },
      "a larger coarse cut can only add exact-top-10 hits")
    // K=100 is s11's production cut: its hit count must equal s11's flags
    val s11Hits = operators.SimilarityOps.queries("s11_two_stage")(spark, sf01)
      .collect().map(_.getLong(3)).sum
    assert(hits.last == s11Hits, "the sweep's K=100 point restates s11's recall")
  }

  test("e2e corpus write: partitionBy layout prunes a single-shard read") {
    val dir = tmpDir("corpus-write-spec")
    Tables.documents(spark, sf)
      .withColumn("shard", concat(lit("s"), substring(md5(col("text")), 1, 1)))
      .write.partitionBy("shard").parquet(s"$dir/c")
    val one = spark.read.parquet(s"$dir/c").filter(col("shard") === "s0")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "shard filter prunes at the source")
    val files = one.select(input_file_name()).distinct().collect()
      .map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("shard=s0")),
      "a one-shard read touches only that partition directory")
    assert(spark.read.parquet(s"$dir/c").count() ==
      Tables.documents(spark, sf).count(), "round trip conserves rows")
  }

  test("e2e manifest commit: the manifest is load-bearing — unlisted data is invisible") {
    // the gate proves the committed books; this spec proves the NEGATIVE:
    // without the manifest the torn write leaks into a naive full read
    val dir = tmpDir("manifest-spec")
    val docs = Tables.documents(spark, sf).withColumn("shard",
      concat(lit("s"), substring(md5(col("doc_id").cast("string")), 32, 1)))
    docs.write.partitionBy("shard").parquet(s"$dir/c")
    val n = Tables.documents(spark, sf).count()
    docs.limit(50).withColumn("shard", lit("torn"))
      .write.mode("append").partitionBy("shard").parquet(s"$dir/c")
    assert(spark.read.parquet(s"$dir/c").count() == n + 50,
      "a manifest-less read sees the torn rows — visibility needs the protocol")
    val out = operators.EngineE2E.queries("e2e_manifest_commit")(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == n, "committed snapshot conserves the corpus")
    assert(out.forall(_.getString(0).matches("s[0-9a-f]")), "no torn shard in the output")
  }

  test("t14 novelty: every distinct shingle is novel for exactly one doc (census)") {
    val rows = operators.TextOps.queries("t14_novelty")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "novel bounded by distinct shingles")
      assert(r.getLong(4) ==
        math.floor(r.getLong(3) * 10000.0 / r.getLong(2)).toLong)
    }
    // independent census: sum of novel counts over sources must equal the
    // number of distinct shingle values in the corpus — each value is
    // first-seen exactly once
    val distinctShingles = Tables.documents(spark, sf)
      .withColumn("g", explode(sequence(lit(1),
        greatest(length(col("text")) - 7, lit(1)))))
      .select(col("text").substr(col("g"), lit(8)).as("sh"))
      .distinct().count()
    assert(rows.map(_.getLong(3)).sum == distinctShingles)
  }

  test("d22 CDC: cuts re-synchronize after an insertion; operator books consistent") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def cutsOf(text: String): Seq[Int] =
      (1 to math.max(text.length - 7, 1))
        .filter(g => md5hex(
          text.substring(g - 1, math.min(g + 7, text.length))).substring(0, 2) < "04")
        .map(_ + 7)
    val base = Tables.documents(spark, sf).orderBy("doc_id")
      .select("text").head.getString(0)
    val a = cutsOf(base)
    assert(a.nonEmpty, "the sample doc must actually produce boundaries")
    // prepend one char: every content-defined cut survives, shifted by 1 —
    // the re-synchronization fixed-size chunking cannot provide (all its
    // boundaries after the edit point change identity)
    val b = cutsOf("X" + base).toSet
    assert(a.map(_ + 1).forall(b.contains),
      "content-defined boundaries shift with the edit instead of vanishing")
    val rows = operators.DedupOps.queries("d22_cdc_chunks")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "dup instances bounded by instances")
      assert(r.getLong(3) ==
        math.floor(r.getLong(2) * 10000.0 / r.getLong(1)).toLong)
      assert(r.getLong(4) >= 1, "chunks are non-empty")
    }
  }

  test("d22 CDC: a doc shorter than one shingle books its own length") {
    // "short86" is 7 chars; its lone shingle (the whole text) clears the
    // boundary rule (md5 prefix "03" < "04"), so its only cut lands at 8,
    // past the end of the text
    val dir = tmpDir("d22-short")
    import spark.implicits._
    Seq((1L, "short86", "en", "s_short", 7L), (2L, "abc", "en", "s_tiny", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val rows = operators.DedupOps.queries("d22_cdc_chunks")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(4))).toMap
    assert(rows("s_short") == ((1L, 7L)), "one chunk, booked at the text's length")
    assert(rows("s_tiny") == ((1L, 3L)), "a cut-free short doc is its own tail chunk")
  }

  test("t16 token drift: bounded L1, token census conserved") {
    val rows = operators.TextOps.queries("t16_token_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= 20000,
        "L1 over shares is bounded by 2 in bp terms")
    }
    val corpusToks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "").count()
    assert(rows.map(_.getLong(1)).sum == corpusToks,
      "per-source token totals partition the corpus")
  }

  test("t15 char entropy: bounded by log2 of alphabet, exact on rebuilt histogram") {
    val rows = operators.TextOps.queries("t15_char_entropy")(spark, sf).collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      val e = r.getDouble(1)
      assert(e >= 0.0 && e <= 8.0, "ASCII corpus entropy stays under 8 bits/char")
    }
  }

  test("s15 dimred sweep: recall grows with kept dims, the sweep prices a real gap") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("s15_dimred_sweep")(spark, sf01).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(16L, 32L, 48L))
    val hits = rows.map(_.getLong(1))
    assert(hits.forall(h => h >= 0 && h <= 10))
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b },
      "keeping more projected dims can only improve recall on this corpus")
    assert(hits.last > hits.head,
      "the sweep must show an actual recall gap to price, or it prices nothing")
  }

  test("s14 SQL surface: text through the injected registry equals s01 row-for-row") {
    val sf01 = "/root/testdata/sf0.01"
    val viaSql = operators.SimilarityOps.queries("s14_sql_surface")(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val viaApi = operators.SimilarityOps.queries("s01_cosine_topk")(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("s25-s28 SQL twins equal their DataFrame-path operators row-for-row") {
    val sf01 = "/root/testdata/sf0.01"
    def rows(family: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame],
        name: String): Seq[Seq[Any]] =
      family(name)(spark, sf01).collect().toSeq.map(_.toSeq)
    // s25 ⇄ d04: identical signature columns
    assert(rows(operators.SqlSurfaceOps.queries, "s25_sql_minhash") ==
      rows(operators.DedupOps.queries, "d04_minhash_signatures"))
    // s26 ⇄ t15: identical rounded entropies
    assert(rows(operators.SqlSurfaceOps.queries, "s26_sql_entropy") ==
      rows(operators.TextOps.queries, "t15_char_entropy"))
    // s27 ⇄ q43: identical analytic window suite
    assert(rows(operators.SqlSurfaceOps.queries, "s27_sql_window") ==
      rows(operators.QueueQueries.queries, "q43_window_suite"))
    // s28 ⇄ d06: identical verified pairs at the integer-bp threshold
    assert(rows(operators.SqlSurfaceOps.queries, "s28_sql_ngram_jaccard") ==
      rows(operators.DedupOps.queries, "d06_ngram_jaccard"))
  }

  test("s13 kmeans step: assignment is a partition, moves bounded, shifts sane") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("s13_kmeans_step")(spark, sf01).collect()
    val nVecs = Tables.embeddings(spark, sf01).count()
    val nLabels = Tables.embeddings(spark, sf01).select("label").distinct().count()
    assert(rows.length == nLabels, "one row per stored cluster")
    assert(rows.map(r => r.getInt(0)).sorted.toSeq == rows.map(_.getInt(0)).toSeq,
      "ordered by label")
    assert(rows.map(_.getLong(1)).sum == nVecs,
      "E-step assigns every vector exactly once")
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "defections bounded by attraction")
      if (r.getLong(1) > 0)
        assert(!r.isNullAt(3) && r.getDouble(3) >= 0.0,
          "non-empty cluster has a defined non-negative shift")
      else assert(r.isNullAt(3), "empty cluster reports NULL shift, not 0")
    }
  }

  test("p10 diverse budget: quotas spend <= budget, sqrt-monotone, taken == quota") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("p10_diverse_budget")(spark, sf01).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(3)).sum <= 200L, "taken never exceeds the budget")
    rows.foreach { r =>
      assert(r.getLong(3) == math.min(r.getLong(2), r.getLong(1)),
        "each cluster takes exactly its (size-capped) quota")
      assert(r.getDouble(4) <= 1.0 && r.getDouble(4) >= -1.0, "cutoff is a cosine")
    }
    val bydSize = rows.sortBy(_.getLong(1))
    assert(bydSize.map(_.getLong(2)).zip(bydSize.tail.map(_.getLong(2)))
      .forall { case (a, b) => a <= b },
      "sqrt-temperature quotas are monotone in cluster size")
  }

  test("p08 epoch schedule: budget conservation and fractional prefix bounds") {
    val rows = operators.PipelineOps.queries("p08_epoch_schedule")(spark, sf).collect()
    assert(rows.nonEmpty)
    val budgets = rows.map(r => r.getLong(3) * r.getLong(2) + r.getLong(4)).distinct
    assert(budgets.length == 1, "every source gets the same integer budget share")
    rows.foreach { r =>
      val (tokens, rem, fracDocs, fracTokens) =
        (r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(rem < tokens, "remainder is a proper fraction of one epoch")
      assert(fracTokens <= rem, "the fractional prefix fits the remainder")
      assert(fracDocs <= r.getLong(1))
    }
  }

  test("d19 provenance pair counts equal the per-cluster combinatorial total") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = operators.DedupOps.queries("d19_dup_provenance")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "matrix is upper-triangular")
      assert(r.getLong(3) >= r.getLong(2), "each shared fp implies >= 1 pair")
    }
    // independent total: sum over fp clusters of k*(k-1)/2
    val expected = docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]+", "")))
      .groupBy("fp").count().filter(col("count") > 1)
      .select(coalesce(sum(expr("count * (count - 1) div 2")), lit(0L)))
      .collect()(0).getLong(0)
    assert(rows.map(_.getLong(3)).sum == expected,
      "source-pair matrix must partition the global dup-pair count")
  }

  test("t06's run-length fold equals the brute-force census on random arrays") {
    // the scan-local rewrite's core claim: on a SORTED array, run starts
    // give the distinct count and the longest run gives the top count —
    // checked against plain Scala groupBy over randomized inputs
    // (deterministic seed; small alphabet forces long runs and ties)
    val rnd = new scala.util.Random(20260814L)
    val cases = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(40))(s"w${rnd.nextInt(6)}")) ++
      Seq(Seq("a"), Seq("a", "a", "a"), Seq("x", "y", "z"))
    import spark.implicits._
    val df = cases.zipWithIndex.map { case (ws, i) => (i.toLong, ws) }.toDF("id", "w")
      .withColumn("bg", array_sort(col("w")))
      .withColumn("n_distinct", size(expr(
        "filter(sequence(0, size(bg) - 1), i -> i = 0 OR" +
          " element_at(bg, i) != element_at(bg, i + 1))")))
      .withColumn("top_c", expr(
        "aggregate(bg," +
          " named_struct('run', 0, 'best', 0, 'prev', CAST(NULL AS STRING))," +
          " (acc, x) -> named_struct(" +
          "   'run', IF(acc.prev IS NULL OR x != acc.prev, 1, acc.run + 1)," +
          "   'best', greatest(acc.best," +
          "     IF(acc.prev IS NULL OR x != acc.prev, 1, acc.run + 1))," +
          "   'prev', x)," +
          " acc -> acc.best)"))
    df.select("id", "n_distinct", "top_c").collect().foreach { r =>
      val ws = cases(r.getLong(0).toInt)
      val counts = ws.groupBy(identity).view.mapValues(_.size)
      assert(r.getInt(1) == counts.size, s"distinct mismatch on ${ws.mkString(",")}")
      assert(r.getInt(2) == counts.values.max, s"top mismatch on ${ws.mkString(",")}")
    }
  }

  test("d20 passage dedup: chunk census matches token counts, dup share bounded") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = operators.DedupOps.queries("d20_passage_dedup")(spark, sf).collect()
    val expectedChunks = docs
      .select(floor(size(split(col("text"), "\\s+")) / 10).cast("long").as("k"))
      .agg(sum("k")).collect()(0).getLong(0)
    assert(rows.map(_.getLong(1)).sum == expectedChunks,
      "every full 10-token window is counted exactly once")
    rows.foreach { r =>
      val (n, dup, bp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dup <= n)
      assert(bp == math.floor(dup * 10000.0 / math.max(n, 1)).toLong)
    }
  }

  test("d21 passage prune: keep-first conservation — pruned = instances - distinct") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rows = operators.DedupOps.queries("d21_passage_prune")(spark, sf).collect()
    val chunks = docs
      .withColumn("a", split(col("text"), "\\s+"))
      .select(explode(expr(
        "CASE WHEN size(a) >= 10 THEN transform(sequence(0, size(a) div 10 - 1)," +
          " i -> concat_ws(' ', slice(a, i*10+1, 10))) ELSE array() END")).as("chunk"))
    val total = chunks.count()
    val distinct = chunks.distinct().count()
    val prunedTokens = rows.map(r => r.getLong(2) - r.getLong(3)).sum
    // exactly one survivor per distinct chunk: pruned instances across all
    // sources must equal total instances minus distinct chunks
    assert(prunedTokens == (total - distinct) * 10,
      s"pruned $prunedTokens tokens, expected ${(total - distinct) * 10}")
    rows.foreach { r =>
      val (tot, kept) = (r.getLong(2), r.getLong(3))
      assert(kept >= 0 && kept <= tot)
      assert((tot - kept) % 10 == 0, "only whole 10-token chunks are pruned")
    }
  }

  test("t17 zipf slope: negative fit per source, top-1 share bounded") {
    val rows = operators.TextOps.queries("t17_zipf_slope")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 2 && r.getLong(1) <= 100,
        "fit needs at least 2 ranks, caps at top-100")
      assert(r.getDouble(2) < 0.0,
        "rank-ordered counts are non-increasing, so the OLS slope is negative")
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 10000,
        "top-1 token share is a valid bp fraction")
    }
  }

  test("p12 curriculum phases: quartiles partition the corpus, entropy ordered across phases") {
    val rows = operators.PipelineOps.queries("p12_curriculum_phases")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == nDocs, "phases partition the corpus")
    assert(rows.map(_.getLong(0)).distinct.sorted.toSeq.forall(p => p >= 0 && p <= 3))
    // every doc in phase p has strictly lower entropy than any doc in
    // phase p+1's lower half... globally: phase boundaries are < compares,
    // so the max entropy of phase p cannot exceed the min of phase p+1
    val byPhase = rows.groupBy(_.getLong(0)).view
      .mapValues(rs => (rs.map(_.getDouble(4)).min, rs.map(_.getDouble(5)).max))
      .toMap
    byPhase.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) => assert(byPhase(a)._2 <= byPhase(b)._1,
        s"phase $a max entropy must not exceed phase $b min")
      case _ =>
    }
  }

  test("s16 knn graph: exactly k edges per vector, bp shares bounded") {
    val rows = operators.SimilarityOps.queries("s16_knn_graph")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nVecs = rows.map(_.getLong(1)).sum
    val nEdges = rows.map(_.getLong(2)).sum
    assert(nEdges == nVecs * 5, "every anchor contributes exactly k=5 edges")
    rows.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) <= 10000)
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000)
    }
  }

  test("d23 band sweep: recall falls and candidates shrink as rows-per-band grow") {
    val rows = operators.DedupOps.queries("d23_band_sweep")(spark, sf).collect()
    assert(rows.length == 4, "one row per (b, r) config")
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((8, 1), (4, 2), (2, 4), (1, 8)), "ordered by rows-per-band")
    val cands = rows.map(_.getLong(2))
    assert(cands.zip(cands.tail).forall { case (a, b) => a >= b },
      "sharper bands can only shrink the candidate set (keys are supersets)")
    val recalls = rows.map(_.getLong(5))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b },
      "recall is monotone non-increasing in rows-per-band on nested keys")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3), "detections bounded by truth")
      assert(r.getLong(4) <= r.getLong(2), "detections bounded by candidates")
    }
  }

  test("p14 leakage-safe split: content split never straddles a fingerprint") {
    // sf0.1: the corpus there actually CONTAINS duplicated fingerprints,
    // so the id-split leak is a real observed count, not vacuous zero
    val sf01 = "/root/testdata/sf0.1"
    val rows = operators.PipelineOps.queries("p14_leakage_safe_split")(spark, sf01).collect()
    val nDocs = spark.read.parquet(s"$sf01/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    assert(rows.map(_.getLong(5)).sum == 0L,
      "a content-keyed split cannot place one fingerprint on both sides")
    assert(rows.map(_.getLong(6)).sum >= 1L,
      "the id-keyed split leaks on this corpus — the bug the operator quantifies")
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("t19 bpe pair census: counts bounded by corpus pair mass, ordered desc") {
    val rows = operators.TextOps.queries("t19_bpe_pair_census")(spark, sf).collect()
    assert(rows.length == 20)
    val occs = rows.map(_.getLong(1))
    assert(occs.zip(occs.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      assert(r.getString(0).length == 2, "adjacent character pairs")
      assert(r.getLong(2) <= r.getLong(1), "type count bounded by occurrences")
    }
  }

  test("t22 merge table pin: trainBpeMerges at sf0.01 reproduces the BpeMerges constant") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val trained = operators.TextOps.trainBpeMerges(docs, 24)
    assert(trained == operators.TextOps.BpeMerges,
      s"merge-table drift: trained=${trained.map(_._1)} " +
        s"pinned=${operators.TextOps.BpeMerges.map(_._1)}")
  }

  test("local BPE trainer reproduces the Spark trainer's pin and saturates at 89 merges") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val wc = operators.TextOps.wordCounts(docs)
    // asked for far more than the corpus supports: stops at saturation
    val sat = operators.TextOps.trainBpeMergesLocal(wc, 5000)
    assert(sat == operators.TextOps.BpeMergesSat,
      s"saturation-table drift: trained ${sat.size} merges, " +
        s"first diff at ${sat.zip(operators.TextOps.BpeMergesSat).indexWhere(t => t._1 != t._2)}")
    // prefix-stability: the greedy trainer's first 24 ARE the t22 pin
    assert(sat.take(24) == operators.TextOps.BpeMerges)
  }

  test("t23 native BPE encode equals the rank-order replace chain (64 merges, sf0.001)") {
    val merges = operators.TextOps.BpeMerges64
    val enc = graft.functions.BpeFunctions.bpe_encode(col("tok"), merges)
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val out = toks.select(col("tok"), enc.as("e")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.nonEmpty)
    out.foreach { case (tok, e) =>
      val chain = merges.foldLeft(tok) { case (s0, (p, m)) => s0.replace(p, m) }
      assert(e == chain, s"native != chain for '$tok': " +
        s"${e.map(c => f"${c.toInt}%04x")} vs ${chain.map(c => f"${c.toInt}%04x")}")
    }
    // merges actually fire below saturation: encoded forms vary in length
    assert(out.map(_._2.length).distinct.length > 1)
  }

  test("native BPE encode at production vocabulary scale: >=1k merges, chain-equal (VERDICT r13 #4)") {
    // The real corpus' 31-word vocabulary saturates at 89 merges — it
    // cannot train a production-size table (documented on
    // BpeMergesSatTrained). Vocabulary-SCALE behavior is pinned here on
    // a deterministic synthetic vocabulary instead: 4000 distinct words
    // from a seeded LCG, trained to 1200 merges with the SAME local
    // trainer, then the native encoder is asserted chain-equal on every
    // word — the table-size regime the replace chain cannot compile.
    val (words, merges) = operators.TextOps.syntheticVocabMerges(1200)
    assert(merges.size == 1200,
      s"synthetic vocabulary must support 1200 merges, got ${merges.size}")
    val table = new graft.functions.BpeTable(merges.map(_._1).toIndexedSeq)
    words.foreach { w =>
      val chain = merges.foldLeft(w) { case (s0, (p, m)) => s0.replace(p, m) }
      val native = table.encode(
        org.apache.spark.unsafe.types.UTF8String.fromString(w)).toString
      assert(native == chain, s"native != chain at 1200 merges for '$w'")
    }
    // the rank-order property the min-rank loop relies on holds (the
    // BpeTable constructor enforces it — constructing above proved it)
    // and the table genuinely compresses: most words shrink
    val shrunk = words.count(w => table.encode(
      org.apache.spark.unsafe.types.UTF8String.fromString(w)).numChars() < w.length)
    assert(shrunk > words.size / 2)
  }

  test("t22 bpe apply equals a brute-force rank-order encode at sf0.001") {
    val out = operators.TextOps.queries("t22_bpe_apply")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val merges = operators.TextOps.BpeMerges
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val words = ds.flatMap(_._2.split("\\s+", -1)).filter(_.nonEmpty)
      val encs = words.map(w =>
        merges.foldLeft(w) { case (e, (p, m)) => e.replace(p, m) })
      val (nc, nt) = (words.map(_.length.toLong).sum, encs.map(_.length.toLong).sum)
      src -> ((words.length.toLong, nc, nt,
        math.floor(nc * 10000.0 / math.max(nt, 1L)).toLong))
    }
    assert(out == expect)
    // the table actually compresses this corpus (merges fire for real)
    assert(out.values.map(_._3).sum < out.values.map(_._2).sum)
  }

  test("s17 pq error: bp fields bounded, census covers every vector") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = operators.SimilarityOps.queries("s17_pq_error")(spark, sf01).collect()
    val nVecs = Tables.embeddings(spark, sf01).count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "every vector is audited once")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "min bounded by mean")
      assert(r.getLong(2) >= -10000 && r.getLong(2) <= 10000, "cosine bp range")
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 10000, "own-code share is a bp")
    }
  }

  test("t18 perplexity buckets: terciles partition the corpus, scores ordered across buckets") {
    val rows = operators.TextOps.queries("t18_perplexity_buckets")(spark, sf).collect()
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == nDocs, "buckets partition the corpus")
    val byBucket = rows.groupBy(_.getString(0)).view
      .mapValues(rs => (rs.map(_.getLong(4)).min, rs.map(_.getLong(5)).max))
      .toMap
    assert(byBucket.keySet.subsetOf(Set("head", "middle", "tail")))
    // cut points are < compares on the same rounded scores, so score
    // ranges cannot overlap across buckets
    for {
      (lo, hi) <- Seq(("tail", "middle"), ("middle", "head"))
      if byBucket.contains(lo) && byBucket.contains(hi)
    } assert(byBucket(lo)._2 <= byBucket(hi)._1,
      s"$lo max score must not exceed $hi min")
  }

  test("p13 unimax: saturated prefix, budget conserved up to integer floor") {
    val rows = operators.PipelineOps.queries("p13_unimax_mix")(spark, sf).collect()
    assert(rows.length == spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count())
    val byCap = rows.sortBy(r => (r.getLong(2), r.getString(0)))
    val satFlags = byCap.map(_.getInt(3))
    assert(satFlags.zip(satFlags.tail).forall { case (a, b) => a >= b },
      "saturation is a prefix of the capacity-ascending order")
    rows.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2), "allocation never exceeds capacity")
      if (r.getInt(3) == 1) assert(r.getLong(4) == r.getLong(2),
        "a saturated source takes exactly its capacity")
      assert(r.getLong(5) <= 40000L, "epochs never exceed the 4-epoch cap")
    }
    val capTotal = rows.map(_.getLong(2)).sum
    val budget = capTotal * 19 / 20
    val spent = rows.map(_.getLong(4)).sum
    val nUnsat = rows.count(_.getInt(3) == 0)
    assert(spent <= budget && budget - spent < math.max(nUnsat, 1),
      "integer water-filling spends the budget up to the division floor")
  }

  test("m06 phash dup groups: only real groups, canonical is a member minimum") {
    val rows = operators.MultimodalOps.queries("m06_phash_dup_groups")(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getString(0).length == 64, "full 64-bit hash key")
      assert(r.getLong(1) >= 2, "a group is at least a pair")
      assert(r.getLong(3) >= 1, "source spread counts at least one source")
    }
    // groups are disjoint by construction (grouped by full hash), so
    // members across groups cannot exceed the corpus
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getLong(1)).sum <= nDocs)
  }

  test("m07 decode quarantine: fault-injected payloads quarantined, books conserve") {
    val rows = operators.MultimodalOps.queries("m07_decode_quarantine")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    rows.foreach { r =>
      val (src, n, ok, bad, idSum) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ok + bad == n, "every payload is decoded or quarantined, never lost")
      val expectBad = docs.filter(d => d._2 == src && d._1 % 37 == 0)
      assert(bad == expectBad.length, s"$src: exactly the corrupted payloads quarantine")
      assert(idSum == expectBad.map(_._1).sum, "quarantine names the right payloads")
    }
    assert(rows.map(_.getLong(3)).sum >= 1, "the fault injection actually fired")
    assert(rows.map(_.getLong(1)).sum == docs.length)
  }

  test("d24 window coverage equals a brute-force interval union at sf0.001") {
    val out = operators.DedupOps.queries("d24_window_coverage")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val W = 10
    // limit -1 mirrors Spark's split (trailing empties kept)
    def toks(t: String) = t.split("\\s+", -1)
    val wins = docs.flatMap { case (id, _, text) =>
      val a = toks(text)
      if (a.length >= W)
        (0 to a.length - W).map(i => (id, i, a.slice(i, i + W).mkString(" ")))
      else Seq.empty
    }
    val shared = wins.groupBy(_._3)
      .filter(_._2.map(_._1).distinct.size >= 2).keySet
    val covByDoc = wins.filter(w => shared(w._3)).groupBy(_._1).map {
      case (id, ws) =>
        val iv = ws.map(w => (w._2, w._2 + W)).sortBy(_._1)
        var tot = 0L; var curS = -1; var curE = -1
        iv.foreach { case (s0, e0) =>
          if (s0 > curE) { if (curE >= 0) tot += curE - curS; curS = s0; curE = e0 }
          else curE = math.max(curE, e0)
        }
        if (curE >= 0) tot += curE - curS
        id -> tot
    }
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val nTok = ds.map(dd => toks(dd._3).length.toLong).sum
      val dup = ds.map(dd => covByDoc.getOrElse(dd._1, 0L)).sum
      src -> ((ds.size.toLong, nTok, dup,
        math.floor(dup * 10000.0 / math.max(nTok, 1L)).toLong))
    }
    assert(out == expect)
  }

  test("window-census artifact equals a from-scratch recompute (cold-path audit)") {
    import org.apache.spark.sql.functions._
    // the artifact the d23a/d24/d26/s30 family rides (warm or cold —
    // the equality must hold either way)
    val (meta, wins, dupStats) = operators.DedupOps.windowCensusArtifact(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), split(col("text"), "\\s+").as("a"))
      .withColumn("n_tok", size(col("a")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
    assert(rows(meta) == rows(docs.select("doc_id", "source", "n_tok")),
      "doc-meta frame == recompute")
    val freshWins = operators.DedupOps.rawWindowCensus(docs)
    assert(rows(wins) == rows(freshWins), "window census == recompute")
    val freshDup = freshWins.groupBy("h", "h2", "wl")
      .agg(count(lit(1)).as("c"), countDistinct(col("doc_id")).as("nd"),
        min(struct(col("doc_id"), col("st"))).as("canon_k"))
      .filter(col("c") >= 2)
    assert(rows(dupStats) == rows(freshDup), "dup stats == recompute")
    // a second touch serves the STORED artifact without rebuilding (the
    // build-once contract the family's cost story depends on) — witness
    // is the per-key build counter, not frame identity: the store hands
    // out fresh lazy parquet scans by design
    val key = "wcensus_wins/" + ArtifactStore.corpusId(s"$sf/documents.parquet")
    // NOTE: before may be 0 — an artifact stored by an EARLIER JVM mounts
    // without building here, which is exactly the store's contract
    val before = ArtifactStore.buildCounts.getOrElse(key, 0L)
    val (m2, w2, d2) = operators.DedupOps.windowCensusArtifact(spark, sf)
    assert(ArtifactStore.buildCounts.getOrElse(key, 0L) == before,
      "second touch must mount the stored artifact, not rebuild")
    assert(rows(w2) == rows(wins) && rows(m2) == rows(meta) && rows(d2) == rows(dupStats))
  }

  test("window-census artifact store: cross-session mount, in-place regeneration rebuild") {
    // a FRESH session (no shared in-memory state with the builder)
    // mounts the stored artifact without rebuilding — the 100 TB
    // contract: the ingest job builds, every later session reads cold
    Scratch.withDir("graft-censustest") { dir =>
      val src = spark.read.parquet(s"$sf/documents.parquet")
      src.write.parquet(s"$dir/documents.parquet")
      val (_, wins1, _) = operators.DedupOps.windowCensusArtifact(spark, dir)
      val n1 = wins1.count()
      val key = "wcensus_wins/" + ArtifactStore.corpusId(s"$dir/documents.parquet")
      assert(ArtifactStore.buildCounts.getOrElse(key, 0L) == 1L)
      val fresh = spark.newSession()
      val (_, wins2, _) = operators.DedupOps.windowCensusArtifact(fresh, dir)
      assert(wins2.count() == n1)
      assert(ArtifactStore.buildCounts.getOrElse(key, 0L) == 1L,
        "fresh session must read the stored artifact, not rebuild")
      // regenerate the corpus IN PLACE (same path, different content):
      // the manifest fingerprint changes, so the store must rebuild
      // rather than serve the stale census (ADVICE r13 staleness bug)
      src.limit(10).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val key2 = "wcensus_wins/" + ArtifactStore.corpusId(s"$dir/documents.parquet")
      assert(key2 != key, "in-place regeneration must change the corpus id")
      val (_, wins3, _) = operators.DedupOps.windowCensusArtifact(spark, dir)
      assert(ArtifactStore.buildCounts.getOrElse(key2, 0L) == 1L,
        "regenerated corpus must trigger a rebuild under the new id")
      assert(wins3.select("doc_id").distinct().count() <= 10L)
    }
  }

  test("d26 dupspan excision equals a brute-force canon-protected model at sf0.001") {
    val out = operators.DedupOps.queries("d26_dupspan_excision")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val W = 10
    def toks(t: String) = t.split("\\s+", -1)
    // every stride-1 window occurrence: (doc, st, window string)
    val wins = docs.flatMap { case (id, _, text) =>
      val a = toks(text)
      if (a.length >= W)
        (0 to a.length - W).map(i => (id, i, a.slice(i, i + W).mkString(" ")))
      else Seq.empty
    }
    // duplicate rule: corpus OCCURRENCE count >= 2 (within-doc repeats
    // count); the lexicographic-min (doc_id, st) occurrence is protected
    val canonOf = wins.groupBy(_._3).collect {
      case (w, os) if os.size >= 2 => w -> os.map(o => (o._1, o._2.toLong)).min
    }
    val excByDoc = wins.filter(o => canonOf.contains(o._3)).groupBy(_._1).map {
      case (id, os) =>
        val prot = os.filter(o => canonOf(o._3) == ((o._1, o._2.toLong)))
          .flatMap(o => o._2 until o._2 + W).toSet
        val cov = os.flatMap(o => o._2 until o._2 + W).toSet
        val exc = (cov -- prot).toSeq.sorted
        // gaps-and-islands over excised positions
        val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
        var run = 0L; var prev = Int.MinValue
        exc.foreach { p =>
          if (p == prev + 1) run += 1
          else { if (run > 0) sizes += run; run = 1 }
          prev = p
        }
        if (run > 0) sizes += run
        id -> ((exc.size.toLong, sizes.length.toLong,
          if (sizes.isEmpty) 0L else sizes.max))
    }
    val expect = docs.groupBy(_._2).map { case (src, ds) =>
      val nTok = ds.map(dd => toks(dd._3).length.toLong).sum
      val per = ds.map(dd => excByDoc.getOrElse(dd._1, (0L, 0L, 0L)))
      val ex = per.map(_._1).sum
      src -> ((ds.size.toLong, nTok, ex, per.map(_._2).sum,
        per.map(_._3).max, math.floor(ex * 10000.0 / math.max(nTok, 1L)).toLong))
    }
    assert(out == expect)
    // fixture sanity: the corpus actually exercises the excision (a
    // duplicate-free corpus would make the equality above vacuous for
    // the kernel under test). NOT compared against d24's coverage:
    // d26's duplicate rule counts within-doc repeats (occurrence >= 2),
    // d24's is cross-doc (distinct docs >= 2), so neither bounds the
    // other in general.
    assert(out.values.map(_._3).sum > 0L,
      "no tokens excised at the spec SF — duplicate fixture lost?")
  }

  test("s30 SQL twin returns exactly d26's rows") {
    val sql = operators.SqlSurfaceOps.queries("s30_sql_dupspan")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val df = operators.DedupOps.queries("d26_dupspan_excision")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(sql == df, "the SQL-text surface and the DataFrame path must not drift")
  }

  test("s18 range search: bounds hold and qid 0 agrees with s01's exact top-k") {
    val rows = operators.SimilarityOps.queries("s18_range_search")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    rows.values.foreach { case (n, mx, mn) =>
      assert(n >= 1L && mn >= 0.30 && mx <= 1.0 && mn <= mx)
    }
    val s01 = operators.SimilarityOps.queries("s01_cosine_topk")(spark, sf)
      .collect().map(r => r.getDouble(1))
    val inRadius = s01.filter(_ >= 0.30)
    rows.get(0L).foreach { case (n, mx, _) =>
      if (inRadius.nonEmpty) {
        assert(mx == inRadius.max, "radius max is the exact top-1 cosine")
        assert(n >= inRadius.length, "top-k rows inside the radius are counted")
      }
    }
  }

  test("s19 ivf balance: census conserves the corpus, IF >= 1, k x scan ~ IF") {
    val r = operators.SimilarityOps.queries("s19_ivf_balance")(spark, sf)
      .collect().head
    val (k, n, mx, mn, ifBp, scanBp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(n == nVecs, "every vector lands in exactly one list")
    assert(mn >= 1 && mx >= mn && mx <= n)
    assert(ifBp >= 10000L, "imbalance factor is bounded below by the even split")
    assert(math.abs(ifBp - k * scanBp) < math.max(k, 1L),
      "IF and nprobe=1 scan share restate each other up to the floor")
  }

  test("streaming left-outer interval join matches its batch twin, null-pads flushed") {
    val out = operators.EngineE2E.queries("e2e_stream_outer_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val seed = Tables.events(spark, sf).orderBy("event_id").limit(1000)
    val e = seed.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("eu"), col("ts").as("ets"))
    val c = seed.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("cu"), col("ts").as("cts"))
    val batch = e.join(c,
        col("cu") === col("eu") &&
          col("cts") > col("ets") - expr("INTERVAL 1 HOUR") &&
          col("cts") <= col("ets"),
        "left_outer")
      .groupBy("err_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("err_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == batch)
    assert(out.exists(_._3 == 1L),
      "at least one error emits null-padded — the outer path is exercised")
  }

  test("d25 edit-distance verify agrees with a reference DP on every pair") {
    def lev(a: String, b: String): Long = {
      val dp = Array.tabulate(b.length + 1)(_.toLong)
      for (i <- 1 to a.length) {
        var diag = dp(0); dp(0) = i.toLong
        for (j <- 1 to b.length) {
          val cur = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = dp(j); dp(j) = cur
        }
      }
      dp(b.length)
    }
    val rows = operators.DedupOps.queries("d25_editdist_verify")(spark, sf).collect()
    assert(rows.nonEmpty, "sf0.001 must produce LSH candidate pairs to verify")
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).take(400)).toMap
    rows.foreach { r =>
      val (d1, d2, l, bp, dup) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
      val full = lev(texts(d1), texts(d2))
      val expected = if (full > 80L) -1L else full
      assert(l == expected, s"levenshtein($d1,$d2): got $l, capped DP says $expected")
      val mx = math.max(texts(d1).length, texts(d2).length).toLong
      if (l >= 0) assert(bp == math.floor(10000.0 * (mx - l) / mx).toLong)
      else assert(bp == -1L)
      assert(dup == (bp >= 8000L))
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sorted.sameElements(
      rows.map(r => (r.getLong(0), r.getLong(1)))), "ordered by (d1, d2)")
  }

  test("t20 encoding audit matches a brute-force recount per source") {
    val rows = operators.TextOps.queries("t20_encoding_audit")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect().map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val nr = ds.map(_._2.count(_ == '�').toLong).sum
      val nc = ds.map(_._2.count(c => c < 0x20 && c != '\t' && c != '\n' && c != '\r').toLong).sum
      val na = ds.map(_._2.count(c => c >= 0x20 && c <= 0x7e).toLong).sum
      val len = ds.map(_._2.length.toLong).sum
      val flagged = ds.count { case (_, t) =>
        t.exists(_ == '�') || t.exists(c => c < 0x20 && c != '\t' && c != '\n' && c != '\r')
      }.toLong
      src -> (ds.length.toLong, nr, nc,
        math.floor(na * 10000.0 / math.max(len, 1L)).toLong, flagged)
    }
    assert(rows == expected)
    rows.values.foreach { case (_, _, _, asciiBp, _) => assert(asciiBp <= 10000L) }
  }

  test("t21 readability matches a brute-force recount per source") {
    val rows = operators.TextOps.queries("t21_readability")(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect().map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val w = ds.map(d => "\\b[A-Za-z]+\\b".r.findAllIn(d._2).length.toLong).sum
      val st = ds.map(d => math.max("[.!?]".r.findAllIn(d._2).length.toLong, 1L)).sum
      val y = ds.map(d => "[aeiouyAEIOUY]+".r.findAllIn(d._2).length.toLong).sum
      src -> ((ds.length.toLong, w, st,
        math.floor(w * 10000.0 / st).toLong,
        math.floor(y * 10000.0 / math.max(w, 1L)).toLong,
        math.floor((0.39 * w / st + 11.8 * y / math.max(w, 1L) - 15.59) * 10000.0).toLong))
    }
    assert(rows == expected)
  }

  test("s20 embedding drift: full-label coverage, counts conserve, cosine bounded") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val nVec = emb.count()
    val nLabels = emb.select("label").distinct().count()
    val rows = operators.SimilarityOps.queries("s20_embedding_drift")(spark, sf).collect()
    assert(rows.length == nLabels, "one drift row per label (both halves populated)")
    assert(rows.map(r => r.getLong(1) + r.getLong(2)).sum == nVec,
      "base + batch counts conserve the corpus")
    rows.foreach { r =>
      assert(r.getLong(1) > 0 && r.getLong(2) > 0)
      val cos = r.getDouble(3)
      assert(cos >= -1.0 && cos <= 1.0)
      assert(r.getDouble(4) > 0.0)
    }
  }

  test("s21 hybrid search: fused list dominated by neither arm, ranks consistent") {
    val rows = operators.SimilarityOps.queries("s21_hybrid_search")(spark, sf).collect()
    assert(rows.length == 10)
    assert(!rows.exists(_.getLong(0) == 0L), "the query doc never retrieves itself")
    val rrf = rows.map(_.getLong(3))
    assert(rrf.sameElements(rrf.sorted.reverse), "output ordered by fused score")
    rows.foreach { r =>
      val (lex, vec, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(lex >= 0 && lex <= 50 && vec >= 0 && vec <= 50)
      assert(lex > 0 || vec > 0, "a fused row must come from at least one arm")
      val expect = (if (lex > 0) 1.0 / (60 + lex) else 0.0) +
        (if (vec > 0) 1.0 / (60 + vec) else 0.0)
      assert(ppm == math.floor(expect * 1000000).toLong, "RRF arithmetic is exact")
    }
    // both arms contribute to the fused top-10 on this corpus
    assert(rows.exists(_.getLong(1) > 0) && rows.exists(_.getLong(2) > 0))
  }

  test("s23 filtered top-k: pre-filter list exact, post-filter recall audited") {
    val rows = operators.SimilarityOps.queries("s23_filtered_topk")(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(2)).toSeq == (1L to 10L), "pre-ranks dense 1..10")
    val cs = rows.map(_.getDouble(1))
    assert(cs.sameElements(cs.sorted.reverse), "pre list ordered by cosine")
    // ground truth replayed locally: exact top-10 among same-label vectors
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue,
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val (_, qLabel, qv) = emb.find(_._1 == 0L).get
    def cos(a: Array[Double], b: Array[Double]) = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      BigDecimal(d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = emb.filter(e => e._1 != 0L && e._2 == qLabel)
      .map(e => (e._1, cos(e._3, qv)))
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    assert(rows.map(_.getLong(0)).toSeq == expect, "pre-filter arm is the exact answer")
    // in_post is 0/1 and the post arm can only ever miss, not add
    assert(rows.forall(r => r.getInt(3) == 0 || r.getInt(3) == 1))
  }

  test("s24 IVF kNN join: per-query books coherent, recall within [0, 10000]") {
    val rows = operators.SimilarityOps.queries("s24_ivf_knn_join")(spark, sf).collect()
    assert(rows.length == 8, "one row per query vector")
    assert(rows.map(_.getLong(0)).toSeq == (0L to 7L))
    val n = Tables.embeddings(spark, sf).count()
    rows.foreach { r =>
      val (cand, bp) = (r.getLong(1), r.getLong(2))
      assert(cand >= 0 && cand < n, "nprobe=1 candidate list is a strict corpus subset")
      assert(bp % 1000 == 0 && bp >= 0 && bp <= 10000)
      // an empty candidate list can't have recall
      if (cand == 0) assert(bp == 0)
    }
    // nprobe=1 over the query's own cell finds at least some true
    // neighbors somewhere in the batch on this clustered corpus
    assert(rows.map(_.getLong(2)).sum > 0, "batch-level recall is non-zero")
  }

  test("s22 ADC top-k: integer table scoring, exact-side audit columns coherent") {
    val rows = operators.SimilarityOps.queries("s22_pq_adc_topk")(spark, sf).collect()
    assert(rows.length == 10)
    assert(!rows.exists(_.getLong(0) == 0L), "the query vector never retrieves itself")
    val adc = rows.map(_.getLong(1))
    assert(adc.sameElements(adc.sorted.reverse), "output ordered by ADC score")
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0)
      assert(r.getInt(3) == 0 || r.getInt(3) == 1)
    }
  }

  test("e2e_stream_burst equals the batch gaps-and-islands twin and finds a real burst") {
    val out = operators.EngineE2E.queries("e2e_stream_burst")(spark, sf).collect()
      .map(r => (r.getLong(0), r.get(1).toString, r.getLong(2)))
    assert(out.nonEmpty, "the seed must contain at least one >=3-error burst")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val batch = Tables.events(spark, sf).orderBy("event_id").limit(1000)
      .filter(col("event_type") === "error")
      .select("user_id", "ts")
      .withColumn("prev", lag("ts", 1).over(w))
      .withColumn("brk", when(col("prev").isNull ||
        col("ts") > col("prev") + expr("INTERVAL 24 HOUR"), 1L).otherwise(0L))
      .withColumn("g", sum("brk").over(w))
      .groupBy("user_id", "g")
      .agg(min("ts").as("burst_start"), count(lit(1)).as("n_errors"))
      .filter(col("n_errors") >= 3)
      .select("user_id", "burst_start", "n_errors")
      .orderBy("user_id", "burst_start")
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.getLong(2)))
    assert(out.toSeq == batch.toSeq)
  }

  test("e2e_stream_late drops the late row, meters the drop, matches its batch twin") {
    val out = operators.EngineE2E.queries("e2e_stream_late")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getLong(4) == 1L,
      "exactly one late row must be recorded as dropped by the watermark"))
    val batch = Tables.events(spark, sf).orderBy("event_id").limit(1000)
      .groupBy(col("ts").cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_v"))
      .orderBy("day", "event_type").collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val streamed = out.map(r =>
      (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq,
      "the late row must not perturb any finalized window")
  }
}
