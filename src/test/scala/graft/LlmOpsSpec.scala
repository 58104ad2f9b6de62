package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ext.LlmOps

class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val docs = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
  private lazy val embs = spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")

  test("dedupExact keeps one row per distinct text with counts summing to corpus") {
    // fixture texts are all distinct; synthesize exact dups by re-appending
    // the first 50 docs under new ids
    val dups = docs.limit(50).withColumn("doc_id", col("doc_id") + 1000000L)
    val corpus = docs.unionByName(dups)
    val d = LlmOps.dedupExact(corpus)
    assert(d.agg(sum("n_copies")).head.getLong(0) == corpus.count())
    assert(d.count() == docs.count()) // one survivor per distinct text
    assert(d.filter(col("n_copies") === 2).count() == 50)
    assert(d.filter(col("keep_id") >= 1000000L).count() == 0) // min-id kept
  }

  test("minhash-LSH pairs are a subset of exact jaccard pairs (verification step)") {
    val exact = LlmOps.jaccardPairs(docs, 0.8).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = LlmOps.nearDupPairsMinhash(docs, 0.8).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact verify on candidates ⇒ no false positives
    assert(lsh.size >= (exact.size * 0.85).toInt) // banding recall at t=0.8
  }

  test("knn top hit of a query vector is itself with cosine 1") {
    val top = LlmOps.knnCosine(embs, queryId = 0, k = 3).collect()
    assert(top.head.getLong(0) == 0L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-6)
    // scores are non-increasing
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("ann-lsh returns the query itself and only true bucket-mates") {
    val res = LlmOps.annCosineLsh(embs, queryId = 0, k = 5).collect()
    assert(res.head.getLong(0) == 0L)
  }

  test("identical texts share simhash and fingerprint; different texts mostly don't") {
    val corpus = docs.limit(20)
      .unionByName(docs.limit(20).withColumn("doc_id", col("doc_id") + 1000000L))
    val sh = LlmOps.simHash(corpus)
      .withColumn("orig", col("doc_id") % 1000000L)
      .groupBy("orig").agg(count_distinct(col("simhash")).as("k"))
    assert(sh.filter(col("k") =!= 1).count() == 0)
    val fp = LlmOps.fingerprint(corpus)
      .withColumn("orig", col("doc_id") % 1000000L)
      .groupBy("orig").agg(count_distinct(col("fp")).as("k"))
    assert(fp.filter(col("k") =!= 1).count() == 0)
    // 20 distinct texts should not all collide to one fingerprint
    assert(LlmOps.fingerprint(docs.limit(20)).select("fp").distinct().count() > 1)
  }

  test("tfidf: common terms get low idf weight, per-doc tf sums to token count") {
    val t = LlmOps.tfIdf(docs)
    val row = t.orderBy(desc("df")).limit(1).collect().head
    val maxDfTfidf = row.getDouble(row.fieldIndex("tfidf"))
    assert(maxDfTfidf <= 1e-9 + 0.0 || maxDfTfidf >= 0.0) // ln(N/df) ≥ 0, ~0 for ubiquitous terms
    val n0 = t.filter(col("id") === 0).agg(sum("tf")).head.getLong(0)
    val toks0 = docs.filter(col("doc_id") === 0)
      .select(size(split(lower(col("text")), "\\s+"))).head.getInt(0)
    assert(n0 == toks0)
  }

  test("langId: marker words and CJK script drive the prediction") {
    // fixture lang labels are arbitrary word-soup tags, so test the
    // heuristic on texts with real signal
    import spark.implicits._
    val synth = Seq(
      (1L, "the cat and the dog of the house with that thing"),
      (2L, "el gato y la casa con los perros que corren"),
      (3L, "le chien et la maison avec les chats que nous avons"),
      (4L, "der hund und die katze das haus mit dem auto"),
      (5L, "\u4e2d\u6587\u6587\u672c\u5904\u7406 spark \u5f15\u64ce"),
    ).toDF("doc_id", "text")
    val out = LlmOps.langId(synth).collect()
      .map(r => r.getLong(0) -> r.getString(r.fieldIndex("pred_lang"))).toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "fr" &&
      out(4L) == "de" && out(5L) == "zh")
  }

  test("similarityPairs is symmetric-free (i<j) and thresholded") {
    val p = LlmOps.similarityPairs(embs, 0.3).collect()
    assert(p.forall(r => r.getLong(1) < r.getLong(2)))
    assert(p.forall(_.getDouble(3) >= 0.3))
  }

  test("cosine LSH pairs: subset of exact, recall >= 0.95") {
    val exact = LlmOps.similarityPairs(embs, 0.3).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = LlmOps.similarityPairsLsh(embs, 0.3).select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // exact cosine verify ⇒ no false positives
    assert(lsh.size >= math.ceil(exact.size * 0.95).toInt) // banding recall
  }

  test("dedupNearCosine lsh default matches the exact variant on >= 95% of survivors") {
    val keptExact = LlmOps.dedupNearCosine(embs, 0.3, method = "exact")
      .collect().map(_.getLong(0)).toSet
    val keptLsh = LlmOps.dedupNearCosine(embs, 0.3)
      .collect().map(_.getLong(0)).toSet
    // missed pairs can only ADD survivors (fewer drops), never remove
    assert(keptExact.subsetOf(keptLsh))
    assert(keptExact.size >= math.ceil(keptLsh.size * 0.95).toInt)
  }

  test("dedupNearCosine keeps the min-id representative of each near-dup pair") {
    val kept = LlmOps.dedupNearCosine(embs, 0.3).collect().map(_.getLong(0)).toSet
    val pairs = LlmOps.similarityPairs(embs, 0.3).collect()
    // every dropped id appears as the j of some pair; every pair lost its j
    pairs.foreach(r => assert(!kept.contains(r.getLong(2))))
    // and ids never named as j survive
    val js = pairs.map(_.getLong(2)).toSet
    val all = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert((all -- js) == kept)
  }

  test("tokenCount: bpe-ish runs count letters/digits/punct separately") {
    val synth = Seq((1L, "abc de-f 42!")).toDF("doc_id", "text")
    val r = LlmOps.tokenCount(synth).head()
    assert(r.getLong(1) == 3L)                    // "abc", "de-f", "42!"
    assert(r.getLong(2) == 6L)                    // abc·de·-·f·42·!
  }

  test("piiScrub replaces emails/phones/IPs with typed placeholders and counts them") {
    val synth = Seq(
      (1L, "contact bob.smith+x@corp-mail.co.uk or call +1 (415) 555-0100 now"),
      (2L, "server 10.0.0.1 and 192.168.255.3 pinged"),
      (3L, "no pii here at all")).toDF("doc_id", "text")
    val r = LlmOps.piiScrub(synth).orderBy("doc_id").collect()
    assert(r(0).getLong(1) == 1L && r(0).getLong(2) == 1L && r(0).getLong(3) == 0L)
    assert(r(0).getString(4) == "contact <EMAIL> or call <PHONE> now")
    assert(r(1).getLong(3) == 2L)
    assert(r(1).getString(4) == "server <IP> and <IP> pinged")
    assert(r(2).getString(4) == "no pii here at all")
  }

  test("substringDup: duplicated 8-token spans across docs, not within one doc") {
    val span = (1 to 8).map(i => s"w$i").mkString(" ")
    val synth = Seq(
      (1L, s"$span unique1 a b c d e f g"),   // shares `span` with doc 2
      (2L, s"$span unique2 h i j k l m n"),
      (3L, s"$span $span"),                    // within-doc repeat only... shares with 1,2 too
      (4L, "totally different words that never repeat anywhere else okay")
    ).toDF("doc_id", "text")
    val r = LlmOps.substringDup(synth, w = 8).orderBy("doc_id").collect()
    val byId = r.map(x => x.getLong(0) -> x).toMap
    // doc 4 shares nothing
    assert(byId(4L).getLong(2) == 0L && byId(4L).getDouble(3) == 0.0)
    // docs 1-3 share at least the leading span shingle
    Seq(1L, 2L, 3L).foreach(id => assert(byId(id).getLong(2) >= 1L, s"doc $id"))
    // a doc made ONLY of self-repeats shares nothing cross-doc
    val solo = Seq((9L, s"$span $span"), (10L, "entirely fresh vocabulary "
      + "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val r2 = LlmOps.substringDup(solo, w = 8).orderBy("doc_id").collect()
    assert(r2.forall(_.getLong(2) == 0L))
  }

  test("persisted IVF index: partition-pruned probes match the direct path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toFile.getAbsolutePath
    val cents = LlmOps.buildIvfIndex(embs, dir)
    val qRaw = embs.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    val indexed = LlmOps.annCosineIvfIndexed(spark, dir, cents, qRaw, 10, nProbe = 2)
    // the probe filter lands on the PARTITION column ⇒ directory pruning,
    // only nProbe/nLists of the index files are read
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__cell"))
    // zero query vector: deterministic probe cells, never NaN poisoning
    val zp = LlmOps.ivfProbeCells(cents, new Array[Double](64), 2)
    assert(zp.length == 2 && zp.forall(c => c >= 1 && c <= cents.length), zp)
    val direct = LlmOps.annCosineIvf(embs, 7L, 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(indexed.collect().map(_.getLong(0)).toSeq == direct)
  }

  test("a zero query searches only the cells ivfProbeCells names, with no NaN score") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf0").toFile.getAbsolutePath
    val cents = LlmOps.buildIvfIndex(embs, dir)
    val zeros = new Array[Double](64)
    val probes = LlmOps.ivfProbeCells(cents, zeros, 2)
    val got = LlmOps.annCosineIvfIndexed(spark, dir, cents, zeros, 10, nProbe = 2)
      .join(spark.read.parquet(dir).select("vec_id", "__cell"), "vec_id")
      .select(col("__cell").cast("int"), col("cos")).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => probes.contains(r.getInt(0))), (probes, got.toSeq))
    assert(!got.exists(r => !r.isNullAt(1) && r.getDouble(1).isNaN), got.toSeq)
  }

  test("ann-ivf: self top-hit, recall grows with nProbe, full probe = brute force") {
    val brute = LlmOps.knnCosine(embs, queryId = 0, k = 10).collect()
      .map(_.getLong(0)).toSet
    def recall(nProbe: Int): Int = {
      val ivf = LlmOps.annCosineIvf(embs, queryId = 0, k = 10, nLists = 16, nProbe = nProbe)
        .collect()
      assert(ivf.head.getLong(0) == 0L) // query's own cell is always probed
      ivf.map(_.getLong(0)).count(brute.contains)
    }
    val (r2, r8, rAll) = (recall(2), recall(8), recall(16))
    assert(r2 >= 1 && r2 <= r8 && r8 <= rAll)
    assert(rAll == 10) // probing every cell IS brute force
  }

  test("frameSample: n rows per doc, fixed frame width, deterministic fps") {
    val withBin = docs.limit(10).select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val out = LlmOps.frameSample(withBin, "payload", nFrames = 4, frameBytes = 16)
    assert(out.count() == 40)
    assert(out.groupBy("doc_id").count().filter(col("count") =!= 4).count() == 0)
    val again = LlmOps.frameSample(withBin, "payload", nFrames = 4, frameBytes = 16)
    assert(out.select("doc_id", "frame_idx", "frame_fp").collect().toSeq ==
      again.select("doc_id", "frame_idx", "frame_fp").collect().toSeq)
  }

  test("connectedComponents: chains merge, min id labels, convergence guard") {
    // two chains (1-2-3-4, 10-11) + a triangle with a bridge (20,21,22,23)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L)).toDF("i", "j")
    val cc = LlmOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L, 22L, 23L).forall(cc(_) == 20L))
    // a path graph longer than maxIters must throw, not silently mislabel
    // (forced onto the distributed star loop: the union-find fast path
    // needs no iteration guard — it is exact at any diameter)
    val path = (0L until 12L).map(k => (k, k + 1)).toDF("i", "j")
    intercept[IllegalStateException] {
      LlmOps.connectedComponentsImpl(path, maxIters = 2, smallLimit = 0L)
    }
  }

  test("nearDupGroups: transitive closure of pairs, keep = min id, sizes consistent") {
    val g = LlmOps.nearDupGroups(docs, 0.8, blockCol = Some("source"))
    val rows = g.collect()
    assert(rows.length == docs.count()) // every doc appears exactly once
    // group_id is the min doc in its group, and exactly the keep row
    val byGroup = rows.groupBy(_.getLong(1))
    byGroup.foreach { case (gid, members) =>
      assert(members.map(_.getLong(0)).min == gid)
      assert(members.count(_.getBoolean(3)) == 1)
      assert(members.forall(_.getLong(2) == members.length))
    }
    // pair partners always land in one group (transitivity over pairs)
    val pairRows = LlmOps.jaccardPairs(docs, 0.8, Some("source")).select("i", "j").collect()
    val grpOf = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairRows.forall(r => grpOf(r.getLong(0)) == grpOf(r.getLong(1))))
    // KQL surface reaches the same op
    val cat = graft.kql.Catalog(spark, TestSpark.sfDir)
    val viaKql = graft.kql.Kql.run(spark,
      "documents | evaluate neardup_groups(0.8, text, doc_id, source)", cat)
    assert(viaKql.count() == rows.length)
  }

  test("cosineGroups: pair partners share a group, lsh groups ⊆-consistent with exact") {
    val g = LlmOps.cosineGroups(embs, 0.3).collect()
    assert(g.length == embs.count())
    val grpOf = g.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairRows = LlmOps.similarityPairs(embs, 0.3).select("i", "j").collect()
    assert(pairRows.forall(r => grpOf(r.getLong(0)) == grpOf(r.getLong(1))))
    // LSH candidates are a subset of exact pairs, so LSH groups can only
    // be a REFINEMENT of exact groups: ids grouped together under LSH
    // must also be together under exact
    val gl = LlmOps.cosineGroups(embs, 0.3, method = "lsh").collect()
    val lshOf = gl.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lshOf.keySet == grpOf.keySet)
    lshOf.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(grpOf).toSet.size == 1)
    }
  }

  test("simHashPairs: exactly the brute-force hamming ball (pigeonhole losslessness)") {
    val k = 3; val bits = 32
    val got = LlmOps.simHashPairs(docs, k, bits).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over all fingerprint pairs — the chunk join must be a
    // pure optimization, never lossy
    val fp = LlmOps.simHash(docs, bits).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i, fi) <- fp; (j, fj) <- fp if i < j
      h = java.lang.Long.bitCount(fi ^ fj) if h <= k
    } yield (i, j, h)).toSet
    assert(got == brute)
    // duplicated texts always surface at hamming 0
    val base = docs.select(col("doc_id"), col("text")).filter(col("doc_id") < 20)
    val dup = base.unionByName(
      base.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val ids = base.collect().map(_.getLong(0))
    val zero = LlmOps.simHashPairs(dup, 0, bits).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ids.forall(i => zero.contains((i, i + 1000000L))))
  }

  test("contamination: eval docs fully self-hit, clean docs absent, short docs no grams") {
    import spark.implicits._
    val ev = docs.filter(col("source") === "src0")
    val rep = LlmOps.contamination(docs, ev, n = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every eval doc with >= 8 tokens is contaminated by itself, with
    // exactly its own distinct-gram count
    val evGramCounts = ev.select(col("doc_id"),
      size(array_distinct(transform(
        sequence(lit(1), size(split(lower(col("text")), "\\s+")) - 7),
        i => concat_ws(" ", slice(split(lower(col("text")), "\\s+"), i, lit(8)))))).as("g"))
      .filter(col("g") > 0).collect().map(r => r.getLong(0) -> r.getInt(1).toLong)
    evGramCounts.foreach { case (id, g) => assert(rep(id) >= g,
      s"eval doc $id self-hits at least its own $g grams") }
    // a synthetic doc with no 8-gram overlap must not appear
    val clean = Seq((999999L, "zq xv wq pj qk lm no pq rs tu vw xy")).toDF("doc_id", "text")
    val rep2 = LlmOps.contamination(clean, ev, n = 8).collect()
    assert(rep2.isEmpty)
    // docs shorter than n produce no grams and cannot be flagged
    val short = Seq((1L, "only three words")).toDF("doc_id", "text")
    assert(LlmOps.contamination(short, short, n = 8).collect().isEmpty)
  }

  test("stratifiedSample: n per stratum, deterministic; hashSplit: stable under growth") {
    val s1 = LlmOps.stratifiedSample(docs, 7, "source").collect()
    val bySrc = s1.map(r => r.getAs[String]("source")).groupBy(identity)
    assert(bySrc.values.forall(_.length <= 7))
    // full strata (≥7 docs) yield exactly 7
    val srcSizes = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    bySrc.foreach { case (src, rows) =>
      assert(rows.length == math.min(7L, srcSizes(src)))
    }
    // deterministic across invocations
    val s2 = LlmOps.stratifiedSample(docs, 7, "source").collect()
    assert(s1.map(_.getLong(0)).sorted.toSeq == s2.map(_.getLong(0)).sorted.toSeq)

    val full = LlmOps.hashSplit(docs, 0.8, 0.1).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // fractions roughly honored
    val counts = full.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > full.size * 6 / 10 && counts("test") < full.size / 4)
    // growth stability: the assignment of existing ids is unchanged when
    // the corpus halves — the defining property of hash splitting
    val half = LlmOps.hashSplit(docs.filter(col("doc_id") % 2 === 0), 0.8, 0.1)
      .select("doc_id", "split").collect()
    half.foreach(r => assert(full(r.getLong(0)) == r.getString(1)))
  }

  test("connectedComponents ≡ union-find on random graphs (seeded property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val edgeGen = Gen.listOfN(60,
      for { a <- Gen.chooseNum(0L, 39L); b <- Gen.chooseNum(0L, 39L) if a != b }
        yield (math.min(a, b), math.max(a, b)))
    for (i <- 0 until 5) {
      val edges = edgeGen(Gen.Parameters.default, Seed(91L + i)).get.distinct
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      // min-id canonicalization: union-find root is already the min
      // because unions always hang the larger root under the smaller
      val got = LlmOps.connectedComponents(edges.toDF("i", "j")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"seed ${91 + i}")
    }
  }

  test("KQL evaluate surface of the r4 ops: arg wiring and output schemas") {
    val cat = graft.kql.Catalog(spark, TestSpark.sfDir)
    def run(q: String) = graft.kql.Kql.run(spark, q, cat)
    val cg = run("embeddings | evaluate cosine_groups(0.3, label, vec_id, embedding)")
    assert(cg.columns.toSeq == Seq("vec_id", "group_id", "group_size", "keep"))
    assert(cg.count() == embs.count())
    val sp = run("documents | evaluate simhash_pairs(3, 32, text, doc_id)")
    assert(sp.columns.toSeq == Seq("i", "j", "hamming"))
    val ct = run("documents | evaluate contamination(documents, 8, text, doc_id)")
    assert(ct.columns.toSeq == Seq("doc_id", "n_contaminated_grams"))
    assert(ct.count() == docs.count()) // self-contamination: every doc hits itself
    val ss = run("documents | evaluate stratified_sample(3, source, doc_id)")
    assert(ss.count() ==
      docs.groupBy("source").count().collect().map(r => math.min(3L, r.getLong(1))).sum)
    val hs = run("documents | evaluate hash_split(0.6, 0.2, doc_id)")
    assert(hs.columns.contains("split") && hs.count() == docs.count())
  }

  test("plan shapes: contamination broadcasts eval grams; hashSplit adds no exchange") {
    val ev = docs.filter(col("source") === "src0")
    val contamPlan = LlmOps.contamination(docs, ev, n = 8)
      .queryExecution.executedPlan.toString
    // the train side must meet the eval grams through a broadcast, not a
    // full shuffle of the corpus gram stream
    assert(contamPlan.contains("BroadcastExchange"), contamPlan.take(500))
    val splitPlan = LlmOps.hashSplit(docs, 0.8, 0.1)
      .queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"), splitPlan.take(500))
  }

  test("r8 plan shapes: bounded top-k selections, no cartesian products") {
    // bm25: the k-cut must be a distributed top-k, not a global sort,
    // and the 1-row corpus-stats side must not force a cartesian
    val bm = LlmOps.bm25(docs, "fast window merge", k = 10)
      .queryExecution.executedPlan.toString
    assert(bm.contains("TakeOrderedAndProject"), bm.take(400))
    assert(!bm.contains("CartesianProduct"), bm.take(400))
    // rrf fusion of bounded lists: same top-k shape
    val ranked = docs.select(col("doc_id"), lit("s").as("system"),
      (pmod(col("doc_id"), lit(50)) + 1).cast("int").as("rank"))
    val rf = LlmOps.rrfFuse(ranked, 60, 10)
      .queryExecution.executedPlan.toString
    assert(rf.contains("TakeOrderedAndProject"), rf.take(400))
    // source KL: broadcast 1-row total, no cartesian
    val kl = LlmOps.sourceKl(docs).queryExecution.executedPlan.toString
    assert(!kl.contains("CartesianProduct"), kl.take(400))
    LlmOps.releaseCaches()
    // cms: probes meet the bounded counter table without a cartesian
    val cm = LlmOps.cmsCount(docs, "scan zebra")
      .queryExecution.executedPlan.toString
    assert(!cm.contains("CartesianProduct"), cm.take(400))
  }

  test("multimodal stub: metadata + fixed-width features, no nulls") {
    val withBin = docs.withColumn("payload", encode(col("text"), "UTF-8"))
    val out = LlmOps.stubDecodeFeatures(LlmOps.withMediaMeta(withBin, "payload"), "payload")
    assert(out.filter(col("media_size").isNull || col("media_hash").isNull).count() == 0)
    assert(out.select(size(col("media_features"))).distinct().head.getInt(0) == 8)
  }

  test("incremental dedup: index catches cross-set and in-batch dups, zero false drops") {
    // corpus = lower id half (indexed once), batch = upper half; exact
    // reference on the union: a batch doc is exactly-dropped iff it has
    // ANY lower-id partner (corpus ids all sit below the split, so the
    // corpus-partner and earlier-batch-partner rules collapse)
    val mm = docs.agg(min("doc_id"), max("doc_id")).head
    val cut = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val corpus = docs.filter(col("doc_id") < cut)
    val batch = docs.filter(col("doc_id") >= cut)
    try {
      LlmOps.buildMinhashIndex(corpus, "t_mh_idx")
      val kept = LlmOps.dedupIncremental(batch, "t_mh_idx")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val exactDropped = LlmOps.jaccardPairs(docs, 0.8).select("i", "j")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter(_._2 >= cut).map(_._2).toSet
      val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      val exactKept = batchIds -- exactDropped
      assert(exactKept.subsetOf(kept), "false drop: an exactly-kept doc was dropped")
      assert(kept.subsetOf(batchIds))
      // banding recall floor: misses only ADD kept docs, boundedly
      assert(kept.size <= math.ceil(exactKept.size / 0.85).toInt)
      // KQL surface reaches the same operator against the same index
      val cat = graft.kql.Catalog(spark, TestSpark.sfDir)
      val viaKql = graft.kql.Kql.run(spark,
        s"documents | where doc_id >= $cut | evaluate dedup_incremental('t_mh_idx', 0.8, text, doc_id)",
        cat).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(viaKql == kept)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_mh_idx_bands")
      spark.sql("DROP TABLE IF EXISTS t_mh_idx_toks")
    }
  }

  test("minhash pairs: hot-bucket skew (mass duplicates) stays complete and bounded") {
    // 400 identical docs share one signature, collapsing into a single
    // (band, bucket) — the worst-case skewed bucket. The pipeline must
    // neither lose pairs (first-collision keeps each pair exactly once,
    // in band 0) nor blow up: all C(400,2) pairs verify at jac 1.0.
    val n = 400
    val hot = spark.range(0, n).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta").as("text"))
    val pairs = LlmOps.nearDupPairsMinhash(hot, 0.8)
    assert(pairs.count() == n.toLong * (n - 1) / 2)
    assert(pairs.agg(min("jac"), max("jac")).head.toSeq == Seq(1.0, 1.0))
  }

  test("repetitionScore: known-answer docs, short-doc degeneracy, KQL surface") {
    val probe = Seq(
      (1L, "a b a b a b"),        // top 2-gram "a b" covers 3/5; every 3-gram repeats
      (2L, "x y z w"),            // all distinct: top2=1/3, dup3=0, uniq=1
      (3L, "solo"),               // too short for any n-gram
      (4L, "t t t t")             // one token repeated: top2=1, dup3=1, uniq=1/4
    ).toDF("doc_id", "text")
    val got = LlmOps.repetitionScore(probe).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(1L) == (0.3333, 0.6, 1.0)) // 2 distinct of 6; "a b" 3 of 5; all four 3-grams repeat
    assert(got(2L) == (1.0, 0.3333, 0.0))
    assert(got(3L) == (1.0, 0.0, 0.0))
    assert(got(4L) == (0.25, 1.0, 1.0))
    val viaKql = graft.kql.Kql.run(spark,
      "documents | evaluate repetition_score(text, doc_id)",
      graft.kql.Catalog(spark, TestSpark.sfDir))
    assert(viaKql.columns.toSeq ==
      Seq("doc_id", "unique_tok_ratio", "top2gram_frac", "dup3gram_frac"))
    assert(viaKql.count() == docs.count())
  }

  test("unigramLogProb: rare tokens score high, uniform corpus is flat, KQL surface") {
    // corpus: "common" appears 9 times, "rare" once → -ln(9/10) vs -ln(1/10)
    val probe = Seq(
      (1L, "common common common"), (2L, "common common common"),
      (3L, "common common common rare")).toDF("doc_id", "text")
    val got = LlmOps.unigramLogProb(probe).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pc = -math.log(9.0 / 10); val pr = -math.log(1.0 / 10)
    def micro(x: Double) = math.round(x * 1e6)
    assert(got(1L) == (3L, math.round(micro(pc) * 3.0 / 3 / 1e6 * 1e4) / 1e4))
    val d3 = (micro(pc) * 3 + micro(pr)).toDouble / 4 / 1e6
    assert(got(3L) == (4L, math.round(d3 * 1e4) / 1e4))
    assert(got(3L)._2 > got(1L)._2) // the rare token raises the score
    val viaKql = graft.kql.Kql.run(spark,
      "documents | evaluate unigram_logprob(text, doc_id)",
      graft.kql.Catalog(spark, TestSpark.sfDir))
    assert(viaKql.columns.toSeq == Seq("doc_id", "n_tokens", "mean_neg_logp"))
    assert(viaKql.count() == docs.count())
  }

  test("incremental dedup: empty corpus and empty batch degrade gracefully") {
    val empty = docs.filter(col("doc_id") < -1)
    try {
      // empty index ⇒ only in-batch self-dedup applies
      LlmOps.buildMinhashIndex(empty, "t_mt_idx")
      val batch = docs.limit(20)
      val kept = LlmOps.dedupIncremental(batch, "t_mt_idx")
      val selfDropped = LlmOps.nearDupPairsMinhash(batch, 0.8)
        .select("j").distinct().count()
      assert(kept.count() == batch.count() - selfDropped)
      // empty batch ⇒ empty result, schema preserved
      LlmOps.buildMinhashIndex(docs.limit(20), "t_sm_idx")
      val kept2 = LlmOps.dedupIncremental(empty, "t_sm_idx")
      assert(kept2.count() == 0 && kept2.columns.sameElements(docs.columns))
    } finally {
      Seq("t_mt_idx_bands", "t_mt_idx_toks", "t_sm_idx_bands", "t_sm_idx_toks")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("connectedComponents rejects non-integral id columns loudly") {
    // string ids would silently null out under cast('long') + na.drop
    // (dedup becomes a no-op); fractional ids would truncate-conflate
    val strPairs = Seq(("a", "b")).toDF("i", "j")
    val e1 = intercept[IllegalArgumentException] { LlmOps.connectedComponents(strPairs) }
    assert(e1.getMessage.contains("must be integral"))
    val dblPairs = Seq((1.2, 1.8)).toDF("i", "j")
    val e2 = intercept[IllegalArgumentException] { LlmOps.connectedComponents(dblPairs) }
    assert(e2.getMessage.contains("must be integral"))
  }

  test("connectedComponents: permuted-id path graph converges in O(log n) rounds") {
    // a long path with randomly permuted ids is the adversarial case for
    // min-label propagation (O(diameter) rounds — and pointer-jumping on
    // min-labels does NOT contract it, measured 50+ rounds): the
    // two-phase large-star/small-star loop must close it well inside
    // maxIters and still label every node with the component min
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((0L until 400L).toVector)
    val pairs = (0 until 399).map(k => (ids(k), ids(k + 1))).toDF("i", "j")
    val comp = LlmOps.connectedComponents(pairs, maxIters = 20)
    assert(comp.count() == 400)
    assert(comp.filter(col("group_id") =!= 0L).count() == 0) // one component, min id 0
  }

  test("connectedComponents: hub-skew graph (one hub, 20k spokes) stays correct") {
    // a mega-cluster hub node skews the per-node key — the r4-flagged
    // 100× risk. In the RDD star loop the hub's adjacency hashes to one
    // partition, but reduceByKey's MAP-SIDE COMBINE collapses the hub
    // key to one record per upstream partition before the shuffle, the
    // subsequent join streams the adjacency through cogroup (no
    // collect-to-buffer on the min side), and large-star resolves a
    // star-shaped hub in a single round — here we pin that a maximally
    // skewed graph (all edges share one endpoint) converges with every
    // node labeled by the hub's min id.
    val n = 20000
    val pairs = spark.range(1, n + 1).select(lit(0L).as("i"), col("id").as("j"))
    val comp = LlmOps.connectedComponents(pairs)
    assert(comp.count() == n + 1)
    assert(comp.filter(col("group_id") =!= 0L).count() == 0)
  }

  test("hashSplit id hash: ANSI-safe at any id, identical to the naive form on small ids") {
    // the naive id*2654435761 overflows a signed long for ids > ~3.47e9
    // — an ANSI-mode runtime error; the decomposed hash must not
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "true")
      val big = Seq(1L, 3500000000L, 5000000000L, (1L << 40) + 7).toDF("doc_id")
      assert(LlmOps.hashSplit(big, 0.8, 0.1).collect().length == 4)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
    // value identity with (id*k) mod 2^32 across the 16-bit carry seams
    val ids = Seq(0L, 1L, 65535L, 65536L, 123456789L, 2147483647L, 4294967295L)
    val got = LlmOps.hashSplit(ids.toDF("doc_id"), 0.8, 0.1)
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("split"))).toMap
    ids.foreach { id =>
      val h = (BigInt(id) * BigInt(2654435761L)).mod(BigInt(4294967296L)).toLong
      val expect = if (h < math.floor(0.8 * 4294967296.0).toLong) "train"
        else if (h < math.floor(0.9 * 4294967296.0).toLong) "val" else "test"
      assert(got(id) == expect, s"id $id hashed differently from the naive form")
    }
  }

  test("contamination shuffle fallback: same report as broadcast; KQL arg reaches it") {
    val ev = docs.filter(col("source") === "src0")
    def rep(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaBroadcast = rep(LlmOps.contamination(docs, ev, n = 8))
    val viaShuffle = rep(LlmOps.contamination(docs, ev, n = 8, broadcastEval = false))
    assert(viaShuffle == viaBroadcast)
    // with auto-broadcast off, the fallback really is a shuffle join on
    // the gram hash (the eval-too-big-to-broadcast shape)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = LlmOps.contamination(docs, ev, n = 8, broadcastEval = false)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan.take(500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val cat = graft.kql.Catalog(spark, TestSpark.sfDir)
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate contamination(documents, 8, text, doc_id, 'shuffle')", cat)
    assert(kql.count() == docs.count()) // self-contamination: every doc hits itself
  }

  test("semDedup: ⊇ all-pairs exact survivors, zero false drops, deterministic, KQL") {
    val all = embs.withColumn("__all", lit(1))
    val exactKept = LlmOps.dedupNearCosine(all, 0.3, blockCol = "__all", method = "exact")
      .collect().map(_.getLong(0)).toSet
    val semRows = LlmOps.semDedup(embs, 0.3, nClusters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val semKept = semRows.map(_._1).toSet
    assert(semRows.forall { case (_, c) => c >= 1L && c <= 8L }) // 1-based cells
    // within-cell pairs ⊆ all pairs ⇒ every all-pairs exact survivor survives
    assert(exactKept.subsetOf(semKept))
    // zero false drops: every dropped id has a SMALLER-id global partner ≥ τ
    val hasSmallerPartner = LlmOps.similarityPairs(all, 0.3, blockCol = "__all")
      .select("j").collect().map(_.getLong(0)).toSet
    val ids = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert((ids -- semKept).subsetOf(hasSmallerPartner))
    // fixed-seed quantizer ⇒ bit-stable across runs
    val again = LlmOps.semDedup(embs, 0.3, nClusters = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == semRows.toSet)
    val kql = graft.kql.Kql.run(spark,
      "embeddings | evaluate semdedup(0.3, 8, vec_id, embedding)", TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("vec_id", "cell"))
    assert(kql.select("vec_id").collect().map(_.getLong(0)).toSet == semKept)
    // empty input degrades to an empty frame (detected from the
    // quantizer's own sample — no up-front isEmpty job)
    assert(LlmOps.semDedup(embs.filter(col("vec_id") < 0), 0.3, nClusters = 4)
      .count() == 0L)
  }

  test("bpePairCounts / ngramCounts: known corpora, weighting, guards, KQL") {
    import spark.implicits._
    // 'abab' ×3 + 'abc' ×1: pair 'ab' = 2·3 + 1 = 7, 'ba' = 3, 'bc' = 1;
    // the 1-char word contributes nothing
    val d = Seq((1L, "abab abc abab"), (2L, "abab x")).toDF("doc_id", "text")
    val bp = LlmOps.bpePairCounts(d, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(bp.toSeq == Seq("ab" -> 7L, "ba" -> 3L, "bc" -> 1L))
    // trigrams with a deterministic tiebreak; docs shorter than n drop
    val g = Seq((1L, "a b c a b c"), (2L, "a b"), (3L, "c a b")).toDF("doc_id", "text")
    val ng = LlmOps.ngramCounts(g, n = 3, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(ng.head == ("a b c" -> 2L))
    assert(ng.toMap == Map("a b c" -> 2L, "b c a" -> 1L, "c a b" -> 2L))
    assert(ng.toSeq == Seq("a b c" -> 2L, "c a b" -> 2L, "b c a" -> 1L))
    // KQL surface
    val kql = graft.kql.Kql.run(spark,
      "src | evaluate bpe_pair_counts(2, text)",
      graft.kql.Catalog(spark, TestSpark.sfDir).withTable("src", d))
    assert(kql.collect().map(_.getString(0)).toSeq == Seq("ab", "ba"))
    val kql2 = graft.kql.Kql.run(spark,
      "src | evaluate ngram_counts(3, 1, text)",
      graft.kql.Catalog(spark, TestSpark.sfDir).withTable("src", g))
    assert(kql2.head.getString(0) == "a b c")
    // leading whitespace must not mint grams with empty components
    val ws = Seq((1L, "  a b c")).toDF("doc_id", "text")
    val g2 = LlmOps.ngramCounts(ws, n = 3, k = 5).collect().map(_.getString(0))
    assert(g2.toSeq == Seq("a b c"), g2.toSeq)
  }

  test("cosine index: incremental embedding dedup, cross-batch + in-batch + growth") {
    import spark.implicits._
    // index = even ids, batch = odd ids — the continuous-ingestion shape
    val evens = embs.filter(col("vec_id") % 2 === 0)
    val odds = embs.filter(col("vec_id") % 2 === 1)
    LlmOps.buildCosineIndex(evens, "graft_cos_idx", 0.3)
    val kept = LlmOps.dedupCosineIncremental(odds, "graft_cos_idx")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val oddIds = odds.select("vec_id").collect().map(_.getLong(0)).toSet
    // exact reference: odd x should drop iff some even y or smaller odd
    // y has cos >= 0.3 (corpus-wide — the op does not block)
    val all = embs.select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val shouldDrop = oddIds.filter { x =>
      all.exists { case (y, vy) =>
        y != x && (y % 2 == 0 || y < x) && cos(all(x), vy) >= 0.3 }
    }
    val dropped = oddIds -- kept
    // zero false drops by construction (every candidate exact-verified)
    assert((dropped -- shouldDrop).isEmpty,
      s"false drops: ${(dropped -- shouldDrop).take(5)}")
    // banding recall floor (tuned >= 0.95 at the threshold)
    assert(dropped.size >= math.ceil(shouldDrop.size * 0.9).toInt,
      s"recall ${dropped.size}/${shouldDrop.size}")
    // KQL surface (BEFORE the index grows — same input, same answer)
    val kql = graft.kql.Kql.run(spark,
      "src | evaluate dedup_cosine_incremental('graft_cos_idx', vec_id, embedding)",
      graft.kql.Catalog(spark, TestSpark.sfDir).withTable("src", odds))
    assert(kql.select("vec_id").collect().map(_.getLong(0)).toSet == kept)
    // growth: append the kept batch, re-send it — identical vectors have
    // identical signatures, so every band collides and ALL re-sent rows
    // drop deterministically
    LlmOps.appendToCosineIndex(odds.join(kept.toSeq.toDF("vec_id"), "vec_id"),
      "graft_cos_idx")
    val resent = LlmOps.dedupCosineIncremental(
      odds.join(kept.toSeq.toDF("vec_id"), "vec_id"), "graft_cos_idx")
    assert(resent.count() == 0L, "a re-sent batch must dedup away entirely")
  }

  test("persist hygiene: releaseCaches leaves zero net library blocks after each op") {
    // Long-lived-session contract (r5 verdict task 6): the within-query
    // persists (token/signature/norm frames, the CC labels handoff)
    // back the RETURNED lazy frames, so they survive the op by design —
    // but after the caller's action, one releaseCaches() sweep must
    // return the session to its pre-op persisted-block state (no
    // harness-dependence on Bench/Verify's blunt clearCache).
    import graft.kql.GraphOps
    // a small weighted digraph with triangles and 2-cores, and a labeled
    // corpus for the classifier
    val edges = (1 to 40).flatMap { i =>
      Seq((i.toString, (i % 40 + 1).toString, i % 5L), (i.toString, ((i * 7) % 40 + 1).toString, 1L))
    }.toDF("s", "d", "w")
    val labeled = docs.withColumn("label", (col("doc_id") % 2).cast("int"))
    val sc = spark.sparkContext
    val baseline = sc.getPersistentRDDs.keySet
    val ops: Seq[(String, () => Long)] = Seq(
      "similarityPairs" -> (() => LlmOps.similarityPairs(embs, 0.3).count()),
      "minhashPairs" -> (() => LlmOps.nearDupPairsMinhash(docs, 0.8).count()),
      "jaccardGroups" -> (() => LlmOps.nearDupGroups(docs, 0.8).count()),
      "cosineGroups" -> (() => LlmOps.cosineGroups(embs, 0.3).count()),
      "semDedup" -> (() => LlmOps.semDedup(embs, 0.3, nClusters = 4).count()),
      "pageRank" -> (() => GraphOps.pageRank(edges, 3, "s", "d").count()),
      "hits" -> (() => GraphOps.hits(edges, 3, "s", "d").count()),
      "shortestPathsWeighted" -> (() =>
        GraphOps.shortestPathsWeighted(edges, "1", 3, "s", "d", "w").count()),
      "labelPropagation" -> (() => GraphOps.labelPropagation(edges, 3, "s", "d").count()),
      "kCore" -> (() => GraphOps.kCore(edges, 2, 3, "s", "d").count()),
      "triangleCount" -> (() => GraphOps.triangleCount(edges, "s", "d").count()),
      "components" -> (() => GraphOps.components(edges, "s", "d").count()),
      "dbscanCosine" -> (() => LlmOps.dbscanCosine(embs, 0.3, 3).count()),
      "kmeansFit" -> (() => LlmOps.kmeansFit(embs, 4, iters = 2).count()),
      "logRegScore" -> (() => LlmOps.logRegScore(labeled, "label", dim = 64, iters = 3).count()),
      "bpeTrain" -> (() => LlmOps.bpeTrain(docs, rounds = 2).count()),
      "bpeTokenize" -> (() => LlmOps.bpeTokenize(docs, rounds = 2).count()))
    ops.foreach { case (name, op) =>
      op()
      LlmOps.releaseCaches()
      val leaked = sc.getPersistentRDDs.keySet -- baseline
      assert(leaked.isEmpty, s"$name leaked persisted RDDs/caches: $leaked")
    }
  }

  test("semDedup mega-cell guard: a 90%-skew cell splits under the cap, drops preserved") {
    import spark.implicits._
    // the web-scale skew case (r5 verdict task 5): one cell holding ~90%
    // of the corpus — its within-cell pair work |cell|² would own the
    // whole stage. The hub is 8 tight sub-clusters (near-identical
    // within, ~orthogonal across) so a sub-quantizer CAN separate it.
    val rnd = new scala.util.Random(11)
    val dim = 8
    def jit(base: Array[Double]): Seq[Double] =
      base.map(_ + rnd.nextGaussian() * 0.01).toSeq
    val hub = (0 until 448).map { i =>
      val dir = Array.tabulate(dim)(d => if (d == i % 8) 1.0 else 0.0)
      (i.toLong, jit(dir))
    }
    val scatter = (1000 until 1050).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()))
    }
    val assigned = (hub.map { case (id, v) => (id, v, 1L) } ++
      scatter.map { case (id, v) => (id, v, 2L) })
      .toDF("vec_id", "embedding", "__cell")
    val split = LlmOps.splitOversizeCells(assigned, maxCellSize = 100L,
      seed = 42, idCol = "vec_id", vecCol = "embedding")
    val sizes = split.groupBy("__cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.values.max <= 100L,
      s"mega-cell survived the recursive split: $sizes")
    assert(sizes(2L) == 50L, "under-cap cells must pass through untouched")
    assert(sizes.values.sum == 498L, "the split must not drop or duplicate rows")
    // identical vectors always share a refined cell (same deterministic
    // assignment) ⇒ exact duplicates still dedup under the cap
    val dups = (0 until 10).map(i => ((9000 + i).toLong, hub(i)._2))
    val emb2 = (hub ++ scatter ++ dups).toDF("vec_id", "embedding")
    val capped = LlmOps.semDedup(emb2, 0.999, nClusters = 2, maxCellSize = 100L)
      .collect().map(_.getLong(0)).toSet
    assert(dups.forall { case (id, _) => !capped.contains(id) },
      "an exact duplicate of a smaller id must still drop under the cap")
    // splitting only REMOVES candidate pairs ⇒ never a new false drop:
    // all-pairs exact survivors all survive the capped run too
    val exactKept2 = LlmOps.dedupNearCosine(emb2.withColumn("__all", lit(1)),
      0.999, blockCol = "__all", method = "exact")
      .collect().map(_.getLong(0)).toSet
    assert(exactKept2.subsetOf(capped))
  }

  test("IVF cell assignment is norm-invariant: raw and pre-normalized inputs land in the same cell") {
    import spark.implicits._
    // ADVICE r10 flagged buildIvfIndex (raw input) vs the inline
    // hardNegativesIvf (pre-normalized input) as a geometry mismatch.
    // It is not one: bestCell normalizes internally, so the two input
    // conventions agree on every assignment — including on corpora that
    // are FAR from unit norm. This pin makes that a machine fact.
    val cents = LlmOps.trainIvfCentroids(embs, nLists = 8)
    val asg = LlmOps.cellOf(cents)
    def normed(c: org.apache.spark.sql.Column) = {
      val n = sqrt(aggregate(c, lit(0.0d), (a, x) => a + x * x))
      transform(c, x => x / n)
    }
    // scale by 37.5 => decidedly non-unit-norm raw vectors
    val vRaw = transform(col("embedding"), x => x.cast("double") * 37.5)
    val diff = embs.select(
        asg(vRaw).as("rawCell"), asg(normed(vRaw)).as("normCell"))
      .filter(col("rawCell") =!= col("normCell")).count()
    assert(diff == 0L,
      s"$diff vectors changed IVF cell between raw and normalized input")
  }

  test("mega-cell split: batched one-pass sampling trains the SAME sub-quantizers as serial per-cell calls") {
    import spark.implicits._
    // r10 verdict task 5: the split now samples ALL oversize cells in one
    // window pass instead of one trainIvfCentroids job per cell. This pin
    // replays the SERIAL form per cell (trainIvfCentroids on the filtered
    // frame with the split's own seed formula) and checks the batched
    // refinement assigned every row to exactly parent·64 + bestCell —
    // bit-identity, not a contract bound. Two oversize cells exercise
    // both sample branches: cell 1 (1200 rows, ~75 hash-sample rows)
    // takes the 1/16 hash sample; cell 2 (200 rows, ~12 hash rows < 4·8)
    // takes the full-prefix fallback.
    val rnd = new scala.util.Random(23)
    val dim = 8
    def jit2(k: Int): Seq[Double] =
      Array.tabulate(dim)(d => (if (d == k) 1.0 else 0.0) +
        rnd.nextGaussian() * 0.01).toSeq
    val cell1 = (0 until 1200).map(i => (i.toLong, jit2(i % 4), 1L))
    val cell2 = (5000 until 5200).map(i => (i.toLong, jit2(i % 3 + 4), 2L))
    val small = (9000 until 9020).map(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextGaussian()), 3L))
    val assigned = (cell1 ++ cell2 ++ small)
      .toDF("vec_id", "embedding", "__cell")
    val split = LlmOps.splitOversizeCells(assigned, maxCellSize = 150L,
        seed = 42, idCol = "vec_id", vecCol = "embedding", maxDepth = 1)
      .select("vec_id", "__cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // local replica of the private bestCell kernel (first-max tie rule)
    def localCell(v: Seq[Double], cents: Array[Array[Double]]): Long = {
      val n = math.sqrt(v.map(x => x * x).sum).max(1e-300)
      var best = 0; var bestS = Double.MinValue
      for (c <- cents.indices) {
        var s = 0.0
        for (i <- v.indices) s += v(i) / n * cents(c)(i)
        s -= cents(c).map(x => x * x).sum / 2
        if (s > bestS) { bestS = s; best = c }
      }
      best + 1L
    }
    for ((cell, rows) <- Seq(1L -> cell1, 2L -> cell2)) {
      val cents = LlmOps.trainIvfCentroids(
        assigned.filter($"__cell" === cell), 8,
        42 + 7919L * 1 + cell, "vec_id", "embedding")
      rows.foreach { case (id, v, _) =>
        assert(split(id) == cell * 64L + localCell(v, cents),
          s"row $id of cell $cell diverged from the serial sub-quantizer")
      }
    }
    small.foreach { case (id, _, _) =>
      assert(split(id) == 3L, "under-cap cells must pass through untouched")
    }
  }

  test("plan shapes: semDedup pair join is an equi-join; sourceCap phase-1 partitions on (source, slice)") {
    // the within-cell pair step must plan as a hash/sort-merge EQUI-join
    // on (cell, salt) — a cartesian/nested-loop here is the O(n²) trap
    val semPlan = LlmOps.semDedup(embs, 0.3, nClusters = 4)
      .queryExecution.executedPlan.toString
    assert(!semPlan.contains("CartesianProduct"), semPlan.take(500))
    assert(!semPlan.contains("BroadcastNestedLoopJoin"), semPlan.take(500))
    // phase 1's exchange must spread a hot source over input slices:
    // hashpartitioning on BOTH the source and the slice id
    val capPlan = LlmOps.sourceCap(docs, 3).queryExecution.executedPlan.toString
    val phase1 = capPlan.linesIterator.find(l =>
      l.contains("hashpartitioning") && l.contains("__p"))
    assert(phase1.exists(_.contains("source")), capPlan.take(800))
  }

  test("incremental dedup index: mismatched banding parameters fail loudly") {
    LlmOps.buildMinhashIndex(docs.limit(20), "graft_meta_idx", numHashes = 32, bands = 8)
    val e1 = intercept[IllegalArgumentException] {
      LlmOps.dedupIncremental(docs.limit(5), "graft_meta_idx") // defaults 16/4
    }
    assert(e1.getMessage.contains("numHashes=32"))
    val e2 = intercept[IllegalArgumentException] {
      LlmOps.appendToMinhashIndex(docs.limit(5), "graft_meta_idx", numHashes = 32,
        bands = 8, buckets = 4) // right banding, wrong bucket count
    }
    assert(e2.getMessage.contains("buckets=16"))
    // matching parameters pass
    assert(LlmOps.dedupIncremental(docs.limit(5), "graft_meta_idx",
      numHashes = 32, bands = 8).count() >= 0)
  }

  test("KQL curation pipeline: quality_filter | source_cap | token_budget chain end-to-end") {
    val out = graft.kql.Kql.run(spark,
      """documents
        | evaluate quality_filter(0.05, 20, text, doc_id)
        | evaluate source_cap(10, source, n_chars, doc_id)
        | evaluate token_budget_sample(1500, source, n_chars, doc_id)
        | summarize n = count(), w = sum(n_chars) by source
        | sort by source asc""", TestSpark.sfDir)
    // reference: the same chain through the Scala API
    val good = docs.join(LlmOps.qualityScore(docs)
      .filter(col("stop_ratio") >= 0.05 && col("n_tokens") >= 20)
      .select("doc_id"), "doc_id")
    val ref = LlmOps.tokenBudgetSample(LlmOps.sourceCap(good, 10), 1500L)
      .groupBy("source").agg(count(lit(1)).as("n"), sum("n_chars").as("w"))
      .orderBy("source").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val got = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == ref.toSeq && got.nonEmpty)
  }

  test("null-text policy: NULL ≡ empty doc across the text ops (no -1 counts, no arbitrary langs)") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta the gamma"), (2L, null: String), (3L, ""),
      (4L, null: String)).toDF("doc_id", "text")
    val q = LlmOps.qualityScore(d).collect().map(r => r.getLong(0) -> r).toMap
    // null rows carry the empty-doc metrics, not size(NULL) = -1 poison
    assert(q(2L).getLong(1) == q(3L).getLong(1) && q(2L).getLong(1) >= 0)
    assert(q(2L).getDouble(5) == 0.0) // stop_ratio 0, not -1/-1 = 1.0
    val tc = LlmOps.tokenCount(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tc(2L) == tc(3L) && tc(2L) >= 0)
    val lang = LlmOps.langId(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(lang(2L) == lang(3L)) // all-zero scores tie-break, not null-argmax
    // dedup fronts collapse null and empty docs into ONE group
    val dd = LlmOps.dedupExact(d)
    assert(dd.count() == 2) // {real doc} + {null/empty group}
    assert(dd.filter(col("n_copies") === 3).count() == 1)
    val scrub = LlmOps.piiScrub(d).filter(col("doc_id") === 2L).head
    assert(scrub.getAs[String]("clean_text") == "" && scrub.getAs[Long]("n_email") == 0)
    // unigramLogProb keeps null docs (as empty-doc rows) instead of dropping
    assert(LlmOps.unigramLogProb(d).count() == 4)
  }

  test("weightedSourceSample: rate endpoints, shuffle-free plan, growth-stable, KQL") {
    val rates = Map("src0" -> 0.5, "src1" -> 0.0)
    val kept = LlmOps.weightedSourceSample(docs, rates, defaultRate = 1.0)
    assert(kept.filter(col("source") === "src1").count() == 0) // rate 0 = drop all
    assert(kept.filter(!col("source").isin("src0", "src1")).count() ==
      docs.filter(!col("source").isin("src0", "src1")).count()) // rate 1 = keep all
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(400)) // per-row projection only
    // growth stability: doubling the corpus never flips an old doc's fate
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val grown = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 500000L))
    val grownOld = LlmOps.weightedSourceSample(grown, rates, defaultRate = 1.0)
      .filter(col("doc_id") < 500000L).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(grownOld == keptIds)
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate source_sample(1.0, source, doc_id, 'src0', 0.5, 'src1', 0.0)",
      TestSpark.sfDir)
    assert(kql.select("doc_id").collect().map(_.getLong(0)).toSet == keptIds)
  }

  test("tokenBudgetSample: budget respected and maximal per source, KQL") {
    val budget = 1500L
    val sel = LlmOps.tokenBudgetSample(docs, budget).collect()
    val selBySrc = sel.groupBy(_.getAs[String]("source"))
    assert(sel.forall(_.getAs[Long]("cum_w") <= budget))
    // maximality: the next doc in hash order would burst the budget
    // (or the source is exhausted) — reference order replayed driver-side
    def h(id: Long) = (id * 2654435761L) % 4294967296L
    val all = docs.select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    all.groupBy(_._1).foreach { case (src, rows) =>
      val ordered = rows.sortBy { case (_, id, _) => (h(id), id) }
      val keptN = selBySrc.get(src).map(_.length).getOrElse(0)
      val prefixW = ordered.take(keptN).map(_._3).sum
      assert(prefixW <= budget)
      if (keptN < ordered.length)
        assert(prefixW + ordered(keptN)._3 > budget, s"$src not maximal")
      // the kept rows ARE the hash-prefix
      val expectIds = ordered.take(keptN).map(_._2).toSet
      val gotIds = selBySrc.get(src).map(_.map(_.getAs[Long]("doc_id")).toSet)
        .getOrElse(Set.empty[Long])
      assert(gotIds == expectIds)
    }
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate token_budget_sample(1500, source, n_chars, doc_id)",
      TestSpark.sfDir)
    assert(kql.count() == sel.length)
  }

  test("sourceCap: per-source top-n ≡ single global window, layout-independent, KQL") {
    import org.apache.spark.sql.expressions.Window
    val capped = LlmOps.sourceCap(docs, 3)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    val ref = docs.withColumn("rank_in_src", row_number().over(w).cast("long"))
      .filter(col("rank_in_src") <= 3)
    def keyRank(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "rank_in_src").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = keyRank(capped)
    assert(got == keyRank(ref)) // two-phase ≡ one global window
    // ≤ n rows per source, ranks contiguous from 1
    val bySrc = capped.groupBy("source").agg(count(lit(1)).as("n"),
      min("rank_in_src").as("mn"), max("rank_in_src").as("mx")).collect()
    assert(bySrc.forall(r => r.getLong(1) <= 3 && r.getLong(2) == 1L &&
      r.getLong(3) == r.getLong(1)))
    // answer is independent of the incoming partition layout
    val shuffled = LlmOps.sourceCap(docs.repartition(7, col("doc_id")), 3)
    assert(keyRank(shuffled) == got)
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate source_cap(3, source, n_chars, doc_id)", TestSpark.sfDir)
    assert(kql.select("doc_id").collect().map(_.getLong(0)).toSet == got.map(_._1))
  }

  test("bigramLogProb: hand-computed conditional MLE; sub-2-token docs drop out") {
    val d = Seq(
      (1L, "a b a b"),   // bigrams: (a,b) (b,a) (a,b)
      (2L, "a b"),       // bigram: (a,b)
      (3L, "x")          // 1 token: no bigrams — must NOT appear
    ).toDF("doc_id", "text")
    val r = LlmOps.bigramLogProb(d).collect().map(x =>
      (x.getLong(0), x.getLong(1), x.getDouble(2))).sortBy(_._1)
    assert(r.map(_._1).toSeq == Seq(1L, 2L)) // the sequence(2,1) guard
    // corpus counts: c(a,b)=3, c(b,a)=1, c(a,·)=3, c(b,·)=1
    // p(b|a)=1 → 0; p(a|b)=1 → 0 ⇒ every mean is 0
    assert(r.forall(_._3 == 0.0))
    assert(r.map(_._2).toSeq == Seq(3L, 1L))
    // now make p(b|a)=2/3: doc 4 adds (a,c)
    val r2 = LlmOps.bigramLogProb(d.union(Seq((4L, "a c")).toDF()), "text", "doc_id")
      .filter(col("doc_id") === 2L).head
    // doc 2's single bigram (a,b): -ln(3/4) in integer micros
    val expected = math.round(-math.log(3.0 / 4.0) * 1e6) / 1e6
    assert(math.abs(r2.getDouble(2) - (math.rint(expected * 1e4) / 1e4)) < 1e-9)
  }

  test("lineDedup: repeated lines keep only their first (doc, pos) occurrence") {
    val d = Seq(
      (1L, "keep one\ndup line\nkeep two"),
      (2L, "dup line\nunique here\ndup line"), // cross-doc AND in-doc dup
      (3L, "dup line")                          // fully deduplicated away
    ).toDF("doc_id", "text")
    val r = LlmOps.lineDedup(d).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .sortBy(_._1)
    assert(r(0) == ((1L, 3L, 3L, "keep one\ndup line\nkeep two")))
    assert(r(1) == ((2L, 3L, 1L, "unique here"))) // both dup copies gone
    assert(r(2) == ((3L, 1L, 0L, "")))            // doc survives, empty
    // layout independence: same result from a different partitioning
    val r7 = LlmOps.lineDedup(d.repartition(7, col("doc_id"))).collect()
      .map(x => (x.getLong(0), x.getString(3))).toSet
    assert(r7 == r.map(x => (x._1, x._4)).toSet)
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate line_dedup(' ', text, doc_id)", TestSpark.sfDir)
    assert(kql.columns.toSeq ==
      Seq("doc_id", "n_lines", "n_kept", "clean_text"))
    assert(kql.count() == docs.count())
  }

  test("lineDedup properties: idempotence and kept-mass conservation") {
    // lines synthesized from fixture text: 10-token groups, heavy
    // cross-doc duplication by construction (tiny vocabulary)
    val toks = split(col("text"), "\\s+")
    val relined = docs.limit(200).withColumn("text", array_join(transform(
      sequence(lit(0), floor((size(toks) - 1) / lit(10)).cast("int")),
      k => array_join(slice(toks, k * 10 + 1, lit(10)), " ")), "\n"))
    val once = LlmOps.lineDedup(relined)
    // conservation: kept lines across the corpus == distinct line count
    val distinctLines = relined
      .select(explode(split(col("text"), "\n")).as("l")).distinct().count()
    assert(once.agg(sum("n_kept")).head.getLong(0) == distinctLines)
    // idempotence: deduping the deduped corpus keeps everything
    val twice = LlmOps.lineDedup(
      once.select(col("doc_id"), col("clean_text").as("text")))
    // skip fully-emptied docs: their '' line collides corpus-wide
    val stable = twice.filter(col("clean_text") =!= "")
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    once.filter(col("clean_text") =!= "").collect()
      .foreach { r =>
        assert(stable(r.getLong(0)) == r.getString(3),
          s"doc ${r.getLong(0)} changed on second dedup")
      }
  }

  test("packSequences properties: partition of the corpus, budget-dense sequences") {
    val packed = LlmOps.packSequences(docs, 700)
    // every doc appears exactly once (a partition of the corpus)
    assert(packed.select("doc_id").distinct().count() == docs.count())
    // per (source, seq): total start-to-end span fits the arithmetic —
    // every seq except its source's last must carry >= budget of
    // cumulative weight from its first doc's offset onward
    val rows = packed.select("source", "seq_id", "w", "offset_in_seq")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    for ((src, seqs) <- rows.groupBy(_._1)) {
      val lastSeq = seqs.map(_._2).max
      for ((seq, ss) <- seqs.groupBy(_._2) if seq != lastSeq) {
        val minOff = ss.map(_._4).min
        val mass = ss.map(_._3).sum
        // the sequence fills from its lowest offset to the boundary
        assert(minOff + mass >= 700,
          s"$src seq $seq: off $minOff + mass $mass < budget")
      }
    }
  }

  test("boilerplateRemove: frequent lines vanish everywhere, rare in-doc repeats stay") {
    val d = Seq(
      (1L, "cookie banner\nreal content a"),
      (2L, "cookie banner\nreal content b"),
      (3L, "cookie banner\nrepeat me\nrepeat me")
    ).toDF("doc_id", "text")
    val r = LlmOps.boilerplateRemove(d, minDf = 3).collect()
      .map(x => (x.getLong(0), x.getLong(2), x.getString(3))).sortBy(_._1)
    // 'cookie banner' df=3 ⇒ removed; 'repeat me' df=1 ⇒ BOTH copies kept
    assert(r(0) == ((1L, 1L, "real content a")))
    assert(r(1) == ((2L, 1L, "real content b")))
    assert(r(2) == ((3L, 2L, "repeat me\nrepeat me")))
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate boilerplate_remove(3, ' ', text, doc_id)",
      TestSpark.sfDir)
    assert(kql.count() == docs.count())
  }

  test("boilerplateLineDedup ≡ lineDedup ∘ boilerplateRemove (fixture + edge corpora)") {
    def composed(d: org.apache.spark.sql.DataFrame, minDf: Int) = {
      val bp = LlmOps.boilerplateRemove(d, minDf = minDf)
      LlmOps.lineDedup(bp.select(col("doc_id"), col("clean_text").as("text")))
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
      .sortBy(_._1).toSeq
    // edge corpus: all-boilerplate docs (phantom '' line enters the dedup
    // stage — only the FIRST such doc keeps its ''), in-doc dups of a
    // rare line, an empty doc, and a doc that loses everything to dedup
    val edge = Seq(
      (1L, "cookie banner\nreal content a"),
      (2L, "cookie banner\nreal content a\nreal content a"),
      (3L, "cookie banner"),            // all boilerplate → clean ''
      (4L, "cookie banner"),            // second all-boilerplate doc
      (5L, ""),                         // empty doc: '' line, df 1
      (6L, "real content a\nrare\nrare") // loses a to dedup, keeps 1 rare
    ).toDF("doc_id", "text")
    assert(rows(LlmOps.boilerplateLineDedup(edge, minDf = 3)) ==
      rows(composed(edge, 3)))
    // fixture corpus, relined to 10-token lines (the llm_pipeline_v2 shape)
    val toks = split(col("text"), "\\s+")
    val relined = docs.limit(300).withColumn("text", array_join(transform(
      sequence(lit(0), floor((size(toks) - 1) / lit(10)).cast("int")),
      k => array_join(slice(toks, k * 10 + 1, lit(10)), " ")), "\n"))
    assert(rows(LlmOps.boilerplateLineDedup(relined, minDf = 3)) ==
      rows(composed(relined, 3)))
    LlmOps.releaseCaches()
  }

  test("chunkDocs: stride/overlap boundaries and short tail chunks") {
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "solo"))
      .toDF("doc_id", "text")
    val r = LlmOps.chunkDocs(d, chunkTokens = 4, overlapTokens = 1)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getString(3)))
      .sortBy(x => (x._1, x._2))
    // stride 3 over 10 tokens: starts 1,4,7,10 — last chunk is 1 token
    assert(r.filter(_._1 == 1L).map(_._4).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(r.filter(_._1 == 1L).map(_._3).toSeq == Seq(4L, 4L, 4L, 1L))
    assert(r.filter(_._1 == 2L).map(_._4).toSeq == Seq("solo"))
    // every consecutive pair overlaps by exactly overlapTokens
    val c1 = r.filter(_._1 == 1L).map(_._4.split(" ").toSeq).toSeq
    c1.sliding(2).foreach {
      case Seq(a, b) => assert(a.takeRight(1) == b.take(1))
      case _ =>
    }
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate chunk(16, 4, text, doc_id)", TestSpark.sfDir)
    assert(kql.filter(col("chunk_idx") > 0).count() > 0)
  }

  test("packSequences: quotient/remainder arithmetic and budget invariants") {
    val r = LlmOps.packSequences(docs, 500).collect().map(x =>
      (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.length == docs.count())
    // offset is the start position within its sequence: 0 <= off < budget,
    // and seq_id * budget + off reconstructs the running start offset
    assert(r.forall(x => x._5 >= 0 && x._5 < 500))
    val bySrc = r.groupBy(_._1)
    for ((_, rows) <- bySrc) {
      val sorted = rows.sortBy(x => x._2 * 500 + x._5)
      // start offsets are the exclusive prefix sums of weights in order
      sorted.foldLeft(0L) { (cum, x) =>
        assert(x._2 * 500 + x._5 == cum); cum + x._4
      }
    }
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate pack_sequences(500, source, n_chars, doc_id)",
      TestSpark.sfDir)
    assert(kql.count() == docs.count())
  }

  test("dedupBloomFilter: every true duplicate dropped; kept is subset of exact-kept") {
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      // inject true duplicates: 20 corpus texts under batch ids
      .unionByName(docs.filter(col("doc_id") % 2 === 0).limit(20)
        .withColumn("doc_id", col("doc_id") + 1000001L))
    val kept = LlmOps.dedupBloomFilter(batch, corpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // no false keeps: the 20 injected dups are all gone
    assert(kept.forall(_ < 1000001L))
    val exactKept = batch.join(
      corpus.select(lower(trim(col("text"))).as("nt")).distinct(),
      lower(trim(batch("text"))) === col("nt"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(exactKept)) // bloom can only over-drop
    assert(kept.size >= (exactKept.size * 0.95).toInt) // fpp=0.01 headroom
    // deterministic: a rebuilt filter keeps the identical row set
    val again = LlmOps.dedupBloomFilter(batch, corpus).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(again == kept)
    // KQL-reachable: corpus table by name
    val kql = graft.kql.Kql.run(spark,
      "documents | where doc_id % 2 == 1 | evaluate dedup_bloom(documents, 0.01, text, doc_id)",
      TestSpark.sfDir)
    assert(kql.count() == 0) // batch ⊆ corpus here ⇒ everything drops
  }

  test("plan shapes: chunk/pack/normalize/bloom keep their zero- or one-shuffle claims") {
    // chunkDocs: pure projection + explode — no exchange beyond the
    // spread() round-robin (which carries no key)
    val chunkPlan = LlmOps.chunkDocs(docs).queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("hashpartitioning"), chunkPlan.take(500))
    // packSequences: exactly the per-source window shuffle, nothing else
    val packPlan = LlmOps.packSequences(docs, 500)
      .queryExecution.executedPlan.toString
    assert(packPlan.contains("hashpartitioning(source"), packPlan.take(800))
    assert(!packPlan.contains("SinglePartition"), packPlan.take(800))
    // textNormalize: zero shuffle of any kind
    val normPlan = LlmOps.textNormalize(docs).queryExecution.executedPlan.toString
    assert(!normPlan.contains("Exchange"), normPlan.take(500))
    // lineDedup consumes its exploded line rows twice (owner aggregate +
    // join-back) — the shuffle must be REUSED, not recomputed, or the
    // explode cost doubles at scale
    val ldDf = LlmOps.lineDedup(docs)
    ldDf.collect() // AQE finalizes the plan
    assert(ldDf.queryExecution.executedPlan.toString.contains("ReusedExchange"),
      "lineDedup lost its exchange reuse")
    // dedupBloomFilter: the batch side is a map-side filter — no join, no
    // exchange in the returned plan (the sketch build ran eagerly)
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    val bloomPlan = LlmOps.dedupBloomFilter(batch, corpus)
      .queryExecution.executedPlan.toString
    assert(!bloomPlan.contains("Exchange") && !bloomPlan.contains("Join"),
      bloomPlan.take(500))
  }

  test("kmeansFit: Lloyd descent, valid cells, degenerate k=1") {
    def wcss(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum("dist2")).head.getDouble(0)
    val a1 = LlmOps.kmeansFit(embs, 8, iters = 1)
    val a4 = LlmOps.kmeansFit(embs, 8, iters = 4)
    // every point assigned exactly once, cells in 1..k
    assert(a4.count() == embs.count())
    val cells = a4.select("cell").distinct().collect().map(_.getInt(0))
    assert(cells.forall(c => c >= 1 && c <= 8))
    // Lloyd: more rounds never increase the objective
    assert(wcss(a4) <= wcss(a1) + 1e-9, s"wcss ${wcss(a4)} vs ${wcss(a1)}")
    // k=1: single cell, dist2 = within-cluster spread, all assigned
    val one = LlmOps.kmeansFit(embs, 1, iters = 1)
    assert(one.select("cell").distinct().count() == 1)
    // zero vector: assigned (smallest-norm centroid), dist2 = ||c||^2 >= 0
    val dim = embs.select(size(col("embedding"))).head.getInt(0)
    val withZero = embs.unionByName(embs.limit(1)
      .select(lit(999999L).cast("long").as("vec_id"),
        array_repeat(lit(0.0f), dim).as("embedding"),
        col("label")))
    val z = LlmOps.kmeansFit(withZero, 4, iters = 2)
      .filter(col("vec_id") === 999999L).head
    assert(z.getInt(1) >= 1 && z.getInt(1) <= 4 && z.getDouble(2) >= 0.0)
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "embeddings | evaluate kmeans(4, 2, vec_id, embedding)", TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("vec_id", "cell", "dist2"))
    assert(kql.count() == embs.count())
  }

  test("dsirWeights: target-distinctive features score positive, off-target negative") {
    // raw corpus: two sublanguages; target = the "aa bb" dialect
    val raw = Seq(
      (1L, "aa bb aa bb aa bb"), (2L, "aa bb aa bb"),
      (3L, "xx yy xx yy xx yy"), (4L, "xx yy xx yy")
    ).toDF("doc_id", "text")
    val target = raw.filter(col("doc_id") <= 2L)
    val r = LlmOps.dsirWeights(raw, target).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1).toSeq
    assert(r.map(_._1) == Seq(1L, 2L, 3L, 4L))
    // target-dialect docs must outscore off-target docs decisively
    assert(r.filter(_._1 <= 2).map(_._3).min >
      r.filter(_._1 >= 3).map(_._3).max)
    // n_grams = tokens - 1 per doc
    assert(r.map(_._2) == Seq(5L, 3L, 5L, 3L))
    // a doc scores identically however the input is partitioned
    val r7 = LlmOps.dsirWeights(raw.repartition(7, col("doc_id")), target)
      .collect().map(x => (x.getLong(0), x.getLong(2))).toSet
    assert(r7 == r.map(x => (x._1, x._3)).toSet)
    // KQL-reachable: target table by name
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate dsir(documents, 2, 256, text, doc_id)", TestSpark.sfDir)
    // raw = target ⇒ every λ is ~0 but counts are real
    assert(kql.count() > 0)
  }

  test("textNormalize: NFC composition, control strip, whitespace collapse") {
    val d = Seq(
      (1L, "café du  monde"),        // decomposed é + double space
      (2L, "tab\there\u0000null"),          // control chars → spaces
      (3L, "  padded  "),
      (4L, null.asInstanceOf[String])       // null-text policy: empty doc
    ).toDF("doc_id", "text")
    val r = LlmOps.textNormalize(d).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2))).sortBy(_._1)
    assert(r(0)._2 == "caf\u00e9 du monde") // composed single codepoint
    assert(r(1)._2 == "tab here null")
    assert(r(2) == ((3L, "padded", 6L)))
    assert(r(3) == ((4L, "", 0L)))
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate text_normalize(text, doc_id)", TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("doc_id", "norm_text", "n_chars_norm"))
    assert(kql.count() == docs.count())
  }

  test("ann-pq: exact re-ranked scores, recall grows with refine, full refine = brute force") {
    val n = embs.count().toInt
    val brute = LlmOps.knnCosine(embs, queryId = 0, k = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def run(refine: Int) = LlmOps.annCosinePq(embs, queryId = 0, k = 10,
      refine = refine).collect().map(r => r.getLong(0) -> r.getDouble(1))
    val exactAll = LlmOps.cosineAll(embs, queryId = 0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r4 = run(4)
    // every returned score is the EXACT cosine (PQ only selects candidates)
    r4.foreach { case (id, c) => assert(c == exactAll(id)) }
    assert(r4.map(_._2).max == 1.0) // the query (or an identical dup) survives refine
    val rec4 = r4.map(_._1).count(brute.contains)
    val recFull = run(math.max(1, n / 10 + 1)).map(_._1).count(brute.contains)
    assert(rec4 >= 5 && rec4 <= recFull)
    assert(recFull == 10) // refine >= n/k degenerates to brute force
    // IVF-PQ composition: coarse pruning + ADC still self-finds the query
    val ivfpq = LlmOps.annCosinePq(embs, queryId = 0, k = 5, refine = 4,
      nLists = 8, nProbe = 2).collect()
    assert(ivfpq.map(_.getDouble(1)).max == 1.0)
  }

  test("fuzzyTokenPairs: deletion neighborhoods find exactly the lev<=d vocab pairs") {
    val d = Seq(
      (1L, "receive recieve receive believe belive wold world word banana"),
      (2L, "receive believe world word zebra zebra zebra banana")
    ).toDF("doc_id", "text")
    // brute-force ground truth over the same vocabulary, both depths
    val vocab = d.select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 4).distinct().collect().map(_.getString(0))
    for (maxDist <- Seq(1, 2)) {
      val got = LlmOps.fuzzyTokenPairs(d, minLen = 4, maxVocab = 100,
        maxDist = maxDist).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val want = (for {
        a <- vocab; b <- vocab if a < b
        if levDist(a, b) <= maxDist
      } yield (a, b)).toSet
      assert(got == want, s"maxDist=$maxDist got $got want $want")
    }
    val got1 = LlmOps.fuzzyTokenPairs(d, 4, 100, 1).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // the known shapes: substitution and insertion pairs present at d=1;
    // the ie/ei transposition is distance 2 — excluded at 1, found at 2
    assert(!got1.contains(("receive", "recieve")))
    assert(got1.contains(("wold", "word")))  // substitution
    assert(got1.contains(("wold", "world"))) // insertion
    assert(got1.contains(("word", "world"))) // insertion
    val got2 = LlmOps.fuzzyTokenPairs(d, 4, 100, 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got2.contains(("receive", "recieve")))
    // frequencies ride along and dist respects the cap
    LlmOps.fuzzyTokenPairs(d, 4, 100, 1).collect().foreach { r =>
      assert(r.getAs[Long]("cnt_a") >= 1L && r.getInt(r.fieldIndex("dist")) <= 1)
    }
    // maxLen fanout guard: a pathological 100-char "token" (and a
    // near-identical copy) never enters the vocabulary
    val blob = "x" * 100
    val dLong = d.unionByName(Seq((3L, s"$blob ${blob}y")).toDF("doc_id", "text"))
    val gotLong = LlmOps.fuzzyTokenPairs(dLong, 4, 100, 2).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!gotLong.exists { case (a, b) => a.length > 32 || b.length > 32 })
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate fuzzy_token_pairs(4, 500, 2, text)", TestSpark.sfDir)
    assert(kql.columns.toSeq ==
      Seq("tok_a", "tok_b", "cnt_a", "cnt_b", "dist"))
  }

  private def levDist(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
      if (i == 0) j else if (j == 0) i else 0))
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("dsirResample: deterministic Gumbel top-k, weight bias, KQL-reachable") {
    val target = docs.filter(col("lang") === "en")
    val r1 = LlmOps.dsirResample(docs, target, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val r2 = LlmOps.dsirResample(docs, target, k = 50).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(r1.toSeq == r2.toSeq && r1.length == 50) // hash noise ⇒ deterministic
    // the kept set's mean log-weight exceeds the corpus mean (importance
    // sampling biases toward the target distribution)
    val all = LlmOps.dsirWeights(docs, target).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val keptMean = r1.map(x => all(x._1).toDouble).sum / r1.length
    val corpusMean = all.values.map(_.toDouble).sum / all.size
    assert(keptMean > corpusMean)
    // growth stability: enlarging k only ADDS documents
    val r80 = LlmOps.dsirResample(docs, target, k = 80).collect()
      .map(_.getLong(0)).toSet
    assert(r1.map(_._1).toSet.subsetOf(r80))
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      """let T = documents | where lang == 'en';
         documents | evaluate dsir_resample(T, 25, 2, 256, text, doc_id)""",
      TestSpark.sfDir)
    assert(kql.count() == 25)
  }

  test("r6 ops: empty and degenerate inputs are safe (or fail loudly)") {
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(LlmOps.fuzzyTokenPairs(noDocs, 4, 100, 2).count() == 0)
    assert(LlmOps.containmentPairs(noDocs, 0.5, w = 5).count() == 0)
    assert(LlmOps.dedupContained(noDocs, 0.5, w = 5).count() == 0)
    val noEdges = Seq.empty[(String, String)].toDF("s", "d")
    assert(graft.kql.GraphOps.pageRank(noEdges, 3, "s", "d").count() == 0)
    assert(graft.kql.GraphOps.components(noEdges, "s", "d").count() == 0)
    graft.ext.LlmOps.releaseCaches()
    // single-vector corpus: SQ8 degenerates to the one exact hit (all
    // dims constant ⇒ step 0 ⇒ code 0 everywhere — no NaN, no crash)
    val one = Seq((7L, Seq.fill(64)(0.5d))).toDF("vec_id", "embedding")
    val sq = LlmOps.annCosineSq8(one, queryId = 7, k = 5).collect()
    assert(sq.length == 1 && sq.head.getLong(0) == 7L && sq.head.getDouble(1) == 1.0)
    // PQ on a 1-point sample: kmeansDriver jitter-fills the codebook —
    // still returns the exact self hit
    val pq = LlmOps.annCosinePq(one, queryId = 7, k = 3).collect()
    assert(pq.length == 1 && pq.head.getDouble(1) == 1.0)
    // empty embedding corpus fails LOUDLY at trainer time, not with a
    // silent empty result
    val noEmb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      LlmOps.trainPqCodebooks(noEmb)
    }
  }

  test("sniffMediaType: every magic branch, container inner tags, nulls, short payloads") {
    val d = Seq(
      1L -> "89504E470D0A1A0A00", 2L -> "FFD8FFE0", 3L -> "474946383761FF",
      4L -> "474946383961FF", 5L -> "255044462D",
      6L -> "52494646AAAAAAAA57415645", 7L -> "52494646AAAAAAAA57454250",
      8L -> "52494646AAAAAAAA41564920", 9L -> "0000001C667479706D703432",
      10L -> "504B0304FF", 11L -> "1F8B08", 12L -> "DEADBEEF", 13L -> "89",
      14L -> null.asInstanceOf[String]
    ).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val got = LlmOps.sniffMediaType(d, "payload").collect()
      .map(r => r.getLong(0) -> Option(r.getString(r.fieldIndex("media_type")))).toMap
    assert(got == Map(
      1L -> Some("image/png"), 2L -> Some("image/jpeg"),
      3L -> Some("image/gif"), 4L -> Some("image/gif"),
      5L -> Some("application/pdf"), 6L -> Some("audio/wav"),
      7L -> Some("image/webp"), 8L -> Some("video/avi"),
      9L -> Some("video/mp4"), 10L -> Some("application/zip"),
      11L -> Some("application/gzip"),
      12L -> Some("application/octet-stream"),
      13L -> Some("application/octet-stream"), // short prefix never matches
      14L -> None))                            // null payload sniffs null
    // a RIFF header whose inner tag is unknown is NOT wav/webp/avi
    val riff = Seq(1L -> "52494646AAAAAAAA58585858").toDF("id", "hx")
      .withColumn("payload", unhex(col("hx")))
    val riffRow = LlmOps.sniffMediaType(riff, "payload").head
    assert(riffRow.getString(riffRow.fieldIndex("media_type")) ==
      "application/octet-stream")
    // KQL-reachable (string payloads sniff over their UTF-8 bytes)
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate sniff_media_type(text) | summarize n = count() by media_type",
      TestSpark.sfDir)
    assert(kql.collect().map(_.getString(0)).toSeq == Seq("application/octet-stream"))
  }

  test("mediaDims: PNG/GIF/JPEG header parsing per format, degraded inputs to null") {
    // real-world header layouts: PNG 800x600 (BE u32), GIF89a 320x200
    // (LE u16), JPEG JFIF APP0 then SOF0 123x45, JPEG with a 10-byte
    // APP1 (EXIF-ish) before SOF2, progressive marker FFC2
    val jfif = "FFD8" + "FFE00010" + "4A46494600010100000100010000" + // APP0 len 16
      "FFC0" + "0011" + "08" + "002D" + "007B" + "03" + "012200" + "021101" + "031101"
    val exif = "FFD8" + "FFE1000A" + "4578696600000000" + // APP1 len 10 (8 payload bytes)
      "FFC2" + "000B" + "08" + "0100" + "0200" + "01" + "012200" // h=256 w=512
    val rows = Seq(
      1L -> ("89504E470D0A1A0A" + "0000000D" + "49484452" +
             "00000320" + "00000258" + "0802000000"),       // PNG 800x600
      2L -> ("474946383961" + "4001" + "C800" + "F700"),     // GIF89a 320x200
      3L -> jfif,                                            // JPEG 123x45
      4L -> exif,                                            // JPEG 256x512 progressive
      5L -> "FFD8FFE1",                                      // truncated JPEG
      6L -> "89504E470D0A1A0A00000001",                      // truncated PNG
      7L -> "255044462D312E34",                              // PDF: type, no dims
      8L -> null.asInstanceOf[String]
    ).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val got = LlmOps.mediaDims(rows, "payload").collect().map { r =>
      r.getLong(0) -> ((Option(r.getString(r.fieldIndex("media_type"))),
        if (r.isNullAt(r.fieldIndex("width"))) None else Some(r.getInt(r.fieldIndex("width"))),
        if (r.isNullAt(r.fieldIndex("height"))) None else Some(r.getInt(r.fieldIndex("height")))))
    }.toMap
    assert(got(1L) == ((Some("image/png"), Some(800), Some(600))))
    assert(got(2L) == ((Some("image/gif"), Some(320), Some(200))))
    assert(got(3L) == ((Some("image/jpeg"), Some(123), Some(45))))
    assert(got(4L) == ((Some("image/jpeg"), Some(512), Some(256))))
    assert(got(5L) == ((Some("image/jpeg"), None, None)))    // truncated -> null, no throw
    assert(got(6L) == ((Some("image/png"), None, None)))     // IHDR tag missing -> null
    assert(got(7L) == ((Some("application/pdf"), None, None)))
    assert(got(8L) == ((None, None, None)))
    // BMP + the three WebP container variants
    val riff = "52494646" + "00000000" + "57454250"
    val rows2 = Seq(
      11L -> ("424D" + "00" * 12 + "28000000" + "20030000" + "58020000"), // BMP 800x600
      12L -> ("424D" + "00" * 12 + "28000000" + "20030000" + "A8FDFFFF"), // top-down h=-600
      13L -> (riff + "56503820" + "00000000" + "000000" + "9D012A" + "4001" + "F000"), // VP8 320x240
      14L -> (riff + "5650384C" + "00000000" + "2F" + "7A000B00"),        // VP8L 123x45
      15L -> (riff + "56503858" + "00000000" + "00" + "000000" + "E70300" + "F30100"), // VP8X 1000x500
      16L -> (riff + "58585858" + "00000000"),                            // unknown WebP chunk
      17L -> "424D0000"                                                   // truncated BMP
    ).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val got2 = LlmOps.mediaDims(rows2, "payload").collect().map { r =>
      r.getLong(0) -> ((r.getString(r.fieldIndex("media_type")),
        if (r.isNullAt(r.fieldIndex("width"))) None else Some(r.getInt(r.fieldIndex("width"))),
        if (r.isNullAt(r.fieldIndex("height"))) None else Some(r.getInt(r.fieldIndex("height")))))
    }.toMap
    assert(got2(11L) == (("image/bmp", Some(800), Some(600))))
    assert(got2(12L) == (("image/bmp", Some(800), Some(600)))) // |biHeight|
    assert(got2(13L) == (("image/webp", Some(320), Some(240))))
    assert(got2(14L) == (("image/webp", Some(123), Some(45))))
    assert(got2(15L) == (("image/webp", Some(1000), Some(500))))
    assert(got2(16L) == (("image/webp", None, None)))
    assert(got2(17L) == (("image/bmp", None, None)))
    // a JPEG whose SOF sits past maxSegments bails to null (never a
    // mis-parse); raising the walk depth finds it
    // seven minimal APP0 segments (len 2 = just the length field)
    val deep = "FFD8" + "FFE00002" * 7 +
      "FFC0" + "000B" + "08" + "0100" + "0200" + "01" + "012200" // h=256 w=512
    val dd = Seq(9L -> deep).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val shallow = LlmOps.mediaDims(dd, "payload").head
    assert(shallow.isNullAt(shallow.fieldIndex("width")))
    val deepParsed = LlmOps.mediaDims(dd, "payload", maxSegments = 8).head
    assert(deepParsed.getInt(deepParsed.fieldIndex("width")) == 512 &&
      deepParsed.getInt(deepParsed.fieldIndex("height")) == 256)
    // SOS (FFDA) stops the walk: 0xFFC0 bytes inside entropy data are
    // never read as a frame header
    val sos = "FFD8" + "FFDA0008" + "FFC0000B080100020001"
    val ss = Seq(10L -> sos).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val sr = LlmOps.mediaDims(ss, "payload").head
    assert(sr.isNullAt(sr.fieldIndex("width")))
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate media_dims(text) | summarize n = count() by media_type",
      TestSpark.sfDir)
    assert(kql.collect().map(_.getString(0)).toSeq == Seq("application/octet-stream"))
  }

  test("bpeTrain: hand-computed merges incl. same-symbol runs; exact driver replay") {
    // vocab: "aaaa" x3, "ab" x2. Round 1: (a,a) weight 9 wins; greedy
    // left-to-right turns aaaa into [aa, aa] (NOT [aa, a, a]). Round 2:
    // (aa,aa) weight 3. Round 3: only (a,b) weight 2 remains.
    val d1 = Seq("aaaa aaaa ab", "aaaa ab").toDF("text")
    val got1 = LlmOps.bpeTrain(d1, rounds = 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got1 == Seq((1, "a", "a", 9L), (2, "aa", "aa", 3L), (3, "a", "b", 2L)))
    // exhaustion: a vocab that runs out of pairs stops early
    val d2 = Seq("ab ab cd").toDF("text")
    val got2 = LlmOps.bpeTrain(d2, rounds = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got2 == Seq((1, "a", "b", 2L), (2, "c", "d", 1L)))
    // exact driver replay on a seeded random corpus, 4 rounds
    val rnd = new scala.util.Random(42)
    val words = Seq.fill(40)(
      (0 until (2 + rnd.nextInt(5))).map(_ => "abc" (rnd.nextInt(3))).mkString)
    val got = LlmOps.bpeTrain(Seq(words.mkString(" ")).toDF("text"), rounds = 4)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // driver replay with identical greedy-fold + argmax semantics
    def fold(syms: List[String], x: String, y: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      for (s <- syms)
        if (out.nonEmpty && out.last == x && s == y) {
          out.remove(out.length - 1); out += (x + y)
        } else out += s
      out.toList
    }
    var vocab: Map[List[String], Long] = words.filter(_.length >= 2)
      .groupBy(identity).map { case (w, g) =>
        w.toList.map(_.toString) -> g.size.toLong }
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (r <- 1 to 4) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).foreach { p => if (p.size == 2) counts((p(0), p(1))) += f } }
      if (counts.nonEmpty) {
        val ((x, y), c) = counts.toSeq.minBy(t => (-t._2, t._1._1, t._1._2))
        expect += ((r, x, y, c))
        vocab = vocab.map { case (syms, f) => fold(syms, x, y) -> f }
      }
    }
    assert(got == expect.toSeq)
    LlmOps.releaseCaches()
  }

  test("bpeTokenize: per-doc counts under trained merges; 1-char words count 1") {
    val d = Seq((0L, "aaaa aaaa ab"), (1L, "aaaa ab"), (2L, "a aaaa"))
      .toDF("doc_id", "text")
    // 3 rounds fully merge the vocab: (a,a,12) -> (aa,aa,4) -> (a,b,2);
    // every trained word is 1 token, the 1-char word "a" counts 1
    val got3 = LlmOps.bpeTokenize(d, rounds = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got3 == Seq((0L, 3L, 3L), (1L, 2L, 2L), (2L, 2L, 2L)))
    // 1 round: only (a,a) merged -> aaaa = [aa,aa] (2), ab = [a,b] (2)
    val got1 = LlmOps.bpeTokenize(d, rounds = 1).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got1 == Seq((0L, 3L, 6L), (1L, 2L, 4L), (2L, 2L, 3L)))
    LlmOps.releaseCaches()
  }

  test("audioMeta: canonical WAV, LIST-preceded fmt, padding, degraded inputs") {
    // 16 kHz mono 8-bit PCM, 100 frames
    val fmt8k = "666D7420" + "10000000" + "0100" + "0100" + "803E0000" +
      "803E0000" + "0100" + "0800"
    // 44.1 kHz stereo 16-bit, 50 frames (block align 4)
    val fmt44 = "666D7420" + "10000000" + "0100" + "0200" + "44AC0000" +
      "10B10200" + "0400" + "1000"
    val rows = Seq(
      1L -> ("52494646" + "A8000000" + "57415645" + fmt8k + "64617461" + "64000000"),
      // odd-size LIST (3 bytes + pad) before fmt: the walk must pad to even
      2L -> ("52494646" + "A8000000" + "57415645" + "4C495354" + "03000000" +
        "000000" + "00" + fmt8k + "64617461" + "64000000"),
      3L -> "52494646AA",                                   // truncated RIFF
      4L -> "DEADBEEF00000000",                             // not RIFF
      5L -> ("52494646" + "24000000" + "57415645" + fmt8k), // fmt, no data
      6L -> ("52494646" + "C8000000" + "57415645" + fmt44 + "64617461" + "C8000000")
    ).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val got = LlmOps.audioMeta(rows, "payload").collect().map { r =>
      def oi(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getInt(r.fieldIndex(c)))
      def ol(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getLong(r.fieldIndex(c)))
      r.getLong(0) -> ((oi("audio_format"), oi("n_channels"), oi("sample_rate"),
        oi("bits_per_sample"), ol("n_frames"), ol("duration_ms")))
    }.toMap
    assert(got(1L) == ((Some(1), Some(1), Some(16000), Some(8), Some(100L), Some(6L))))
    assert(got(2L) == got(1L)) // LIST + padding walked over
    assert(got(3L) == ((None, None, None, None, None, None)))
    assert(got(4L) == ((None, None, None, None, None, None)))
    assert(got(5L) == ((Some(1), Some(1), Some(16000), Some(8), None, None)))
    assert(got(6L) == ((Some(1), Some(2), Some(44100), Some(16), Some(50L), Some(1L))))
    // KQL-reachable; string payloads are not RIFF -> all null
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate audio_meta(text) | summarize n = countif(isnull(sample_rate))",
      TestSpark.sfDir)
    assert(kql.head.getLong(0) > 0)
  }

  test("r7 plugins are KQL-reachable: bpe_train/bpe_tokenize/random_projection/dbscan") {
    val bt = graft.kql.Kql.run(spark,
      "documents | evaluate bpe_train(2, text)", TestSpark.sfDir).collect()
    assert(bt.length == 2 && bt.map(_.getInt(0)).toSeq == Seq(1, 2))
    val tk = graft.kql.Kql.run(spark,
      "documents | evaluate bpe_tokenize(2, text, doc_id) | summarize total = sum(n_bpe_tokens)",
      TestSpark.sfDir).head
    assert(tk.getLong(0) > 0)
    val rp = graft.kql.Kql.run(spark,
      "embeddings | evaluate random_projection(4, 64, embedding, vec_id) | summarize n = count()",
      TestSpark.sfDir).head
    assert(rp.getLong(0) == embs.count() * 4)
    val db = graft.kql.Kql.run(spark,
      "embeddings | where label <= 1 | extend blk = 1 | evaluate dbscan(0.3, 4, 'exact', blk, embedding, vec_id) | summarize n = count() by role | sort by role asc",
      TestSpark.sfDir).collect()
    assert(db.map(_.getLong(1)).sum == embs.filter(col("label") <= 1).count())
    LlmOps.releaseCaches()
  }

  test("featureHash: exact md5 driver replay, sign independence, KQL-reachable") {
    val d = Seq((1L, "alpha beta alpha"), (2L, "beta"), (3L, "")).toDF("doc_id", "text")
    val got = LlmOps.featureHash(d, dim = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(w: String) = {
      val m = md5hex(w)
      (m(0).toInt * 10000 + m(1).toInt * 100 + m(2).toInt) % 16
    }
    def sign(w: String) = if (md5hex(w)(3).toInt % 2 == 0) 1L else -1L
    val expect = scala.collection.mutable.Map.empty[(Long, Int), Long].withDefaultValue(0L)
    for ((id, ws) <- Seq(1L -> Seq("alpha", "beta", "alpha"), 2L -> Seq("beta")); w <- ws)
      expect((id, bucket(w))) += sign(w)
    assert(got == expect.filter(_._2 != 0).toMap) // doc 3 contributes nothing
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate feature_hash(32, text, doc_id) | summarize n = count(), dims = dcount(dim)",
      TestSpark.sfDir).head
    assert(kql.getLong(0) > 0 && kql.getLong(1) <= 32)
  }

  test("featureHashDense: dense bridge preserves sparse values; empty doc = zero vector") {
    val d = Seq((1L, "alpha beta alpha"), (2L, "")).toDF("doc_id", "text")
    val dense = LlmOps.featureHashDense(d, dim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val sparse = LlmOps.featureHash(d, dim = 16).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(dense(1L).length == 16 && dense(2L).length == 16)
    assert(dense(1L).zipWithIndex.forall { case (v, i) =>
      v == sparse.getOrElse((1L, i), 0L).toDouble })
    assert(dense(2L).forall(_ == 0.0)) // empty doc clusters, never crashes
    // end-to-end: text -> dense vectors -> k-means assigns every doc
    val fit = LlmOps.kmeansFit(LlmOps.featureHashDense(docs.limit(60), dim = 16),
      k = 3, iters = 2, idCol = "doc_id")
    assert(fit.count() == 60 &&
      fit.select("cell").distinct().count() <= 3)
  }

  test("winnowFingerprints: exact hand case and the shared-span guarantee") {
    // 8 tokens, k=4, w=5 -> 5 shingles, exactly ONE full window -> one
    // selected fingerprint; replay the md5 arithmetic on the driver
    val d1 = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val r1 = LlmOps.winnowFingerprints(d1, 4, 5).collect()
    assert(r1.length == 1)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h(s: String) = (0 until 6).map(i =>
      md5hex(s)(i).toInt.toLong * math.pow(100, i).toLong).sum
    val toks = "a b c d e f g h".split(" ")
    val sel = (0 until 5).map(i =>
      h(toks.slice(i, i + 4).mkString(" ")) * 1000000L + (i + 1)).min
    assert(r1.head.getInt(1) == (sel % 1000000L).toInt &&
      r1.head.getLong(2) == sel / 1000000L)
    // the winnowing GUARANTEE: documents sharing a contiguous run of
    // >= k+w-1 = 8 tokens share at least one fingerprint VALUE
    val rnd = new scala.util.Random(11)
    def tok() = "t" + rnd.nextInt(50)
    val span = (1 to 12).map(_ => tok()).mkString(" ")
    val a = (1 to 30).map(_ => tok()).mkString(" ") + " " + span + " " +
      (1 to 7).map(_ => tok()).mkString(" ")
    val b = (1 to 19).map(_ => tok()).mkString(" ") + " " + span + " " +
      (1 to 5).map(_ => tok()).mkString(" ")
    val fps = LlmOps.winnowFingerprints(Seq((1L, a), (2L, b)).toDF("doc_id", "text"),
        4, 5).collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert((fps(1L) & fps(2L)).nonEmpty)
    // short docs (< k tokens) contribute nothing, never throw
    assert(LlmOps.winnowFingerprints(
      Seq((9L, "a b")).toDF("doc_id", "text"), 4, 5).count() == 0)
  }

  test("byte parsers are total: signature-prefixed random payloads never throw") {
    val rows = LlmOpsSpec.parserFuzz(spark)
    // collect() forces every parsed column; hostile headers must
    // degrade to null per field, never throw. Each digest was recorded
    // before the parsers shared one byte reader, so any change to a
    // parser's output over these rows (a value, a null, a type) fails.
    val got = LlmOpsSpec.parsers.map { case (name, parse) =>
      name -> PinnedRowGoldensSpec.digest(parse(rows).drop("payload"))
    }.toMap
    assert(got == Map(
      "sniffMediaType" -> (("960",
        "3c35f5d0dd5a7f831d53750cb80535b665c8294eb54ff826034b0172247b208d",
        "struct<doc_id:bigint,media_type:string>")),
      "mediaDims" -> (("960",
        "3bff43ea338b83029530c82749e9a4d4ddb2b31a759f8910ddc1eebd298e7aa3",
        "struct<doc_id:bigint,media_type:string,width:int,height:int>")),
      "audioMeta" -> (("960",
        "243cf353a5152d8bc8884c804604236de11b37c817fe3113dd5468c9469b4f2f",
        "struct<doc_id:bigint,audio_format:int,n_channels:int,sample_rate:int,bits_per_sample:int,n_frames:bigint,duration_ms:bigint>")),
      "flacMeta" -> (("960",
        "a55de4a56ce5b33a99feafa6dfe6e1565ae14fddebb02f1e1c661b4ec4bb8681",
        "struct<doc_id:bigint,sample_rate:int,n_channels:int,bits_per_sample:int,total_samples:bigint,duration_ms:bigint>")),
      "mp3Meta" -> (("960",
        "8ca2c06faa02fb455ef7f68c81944789c17987bf5dfddb47d8c30d39dd057df5",
        "struct<doc_id:bigint,bitrate_kbps:int,sample_rate:int,n_channels:int,frame_bytes:bigint>")),
      "videoMeta" -> (("960",
        "82431843229835c746f2861e53d8d46f782a400993cd7f040f531e963329527c",
        "struct<doc_id:bigint,timescale:int,duration_ms:bigint,width:int,height:int>")),
      "avifDims" -> (("960",
        "46f233520bababfdf5f31372409e13c1d2336c3e84c5283e7ca43889360186ba",
        "struct<doc_id:bigint,brand:string,width:int,height:int>")),
      "oggMeta" -> (("960",
        "32838fc6776bde741a673e66c7b8697607effa3594f502eb41a05e59f277d535",
        "struct<doc_id:bigint,codec:string,n_channels:bigint,pre_skip:bigint,sample_rate:bigint>")),
      "exifMeta" -> (("960",
        "03a877adebebb04a5d9e3c5b095b4a69b83a820ae66ac87969cee11d5080ad8a",
        "struct<doc_id:bigint,byte_order:string,width:bigint,height:bigint,orientation:bigint>"))))
  }

  test("videoMeta: mvhd/tkhd box walk, v1 boxes and degraded inputs to null") {
    val ftyp = "00000010" + "66747970" + "69736F6D" + "00000000"
    val mvhd0 = "0000001C" + "6D766864" + "00000000" * 3 + "00000258" + "000004B0"
    val mvhd1 = "0000001C" + "6D766864" + "01000000" + "00000000" * 2 +
      "00000258" + "000004B0" // version 1: 64-bit times, refuse to parse
    val tkhd = "0000005C" + "746B6864" + "00000007" + "00" * 20 + "00" * 8 +
      "00" * 8 + "00" * 36 + "01400000" + "00B40000" // 320x180 as 16.16
    val trak = "00000064" + "7472616B" + tkhd
    def moov(mv: String) = "00000088" + "6D6F6F76" + mv + trak
    val rows = Seq(
      1L -> (ftyp + moov(mvhd0)),
      2L -> (ftyp + "00000009" + "66726565" + "00" + moov(mvhd0)), // odd free box
      3L -> (ftyp + moov(mvhd1)),                                  // v1 mvhd
      4L -> "0000001866",                                          // truncated
      5L -> "DEADBEEF00000000"                                     // not MP4
    ).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val got = LlmOps.videoMeta(rows, "payload").collect().map { r =>
      def oi(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getInt(r.fieldIndex(c)))
      def ol(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getLong(r.fieldIndex(c)))
      r.getLong(0) -> ((oi("timescale"), ol("duration_ms"), oi("width"), oi("height")))
    }.toMap
    assert(got(1L) == ((Some(600), Some(2000L), Some(320), Some(180))))
    assert(got(2L) == got(1L)) // free box (odd size, no padding) walked over
    assert(got(3L) == ((None, None, Some(320), Some(180)))) // v1 mvhd, v0 tkhd
    assert(got(4L) == ((None, None, None, None)))
    assert(got(5L) == ((None, None, None, None)))
    // KQL-reachable; string payloads are not MP4 -> null
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate video_meta(text) | summarize n = countif(isnull(timescale))",
      TestSpark.sfDir)
    assert(kql.head.getLong(0) > 0)
  }

  test("randomProjection: exact driver replay, short vectors null, JL correlation") {
    def sign(d: Int, j: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp_${d}_$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
      if ("0123456789abcdef".indexOf(hex.charAt(0)) % 2 == 0) 1L else -1L
    }
    val proj = LlmOps.randomProjection(embs, k = 16, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // exact integer replay for one vector
    val v0 = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0)
    val vm = v0.map(x => math.round(x * 1000000))
    for (d <- 1 to 16)
      assert(proj((0L, d)) == (1 to 64).map(j => sign(d, j) * vm(j - 1)).sum)
    // deterministic: a second run is bit-identical
    val proj2 = LlmOps.randomProjection(embs, k = 16, dim = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(proj == proj2)
    // JL property on the FIXED matrix: E[||Pv||²/k] = ||v||² for ±1
    // signs (Achlioptas), so the mean norm-preservation ratio over 41
    // vectors concentrates near 1 (per-vector std √(2/k) ≈ 0.35 →
    // mean std ≈ 0.055; the matrix is deterministic, so this is a
    // constant — no flake)
    val vecs = embs.filter(col("vec_id") < 41)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val ratios = vecs.toSeq.map { case (id, v) =>
      val n2 = v.map(x => x * x).sum
      val p2 = (1 to 16).map { d =>
        val p = proj((id, d)).toDouble / 1e6; p * p
      }.sum / 16.0
      p2 / n2
    }
    val meanRatio = ratios.sum / ratios.length
    assert(meanRatio > 0.7 && meanRatio < 1.3,
      s"JL norm preservation off: mean ratio $meanRatio")
    // short vector -> null projection values, row preserved
    val shorty = Seq((99L, Seq(0.5, -0.5))).toDF("vec_id", "embedding")
    val sp = LlmOps.randomProjection(shorty, k = 4, dim = 64).collect()
    assert(sp.length == 4 && sp.forall(_.isNullAt(2)))
  }

  test("dbscanCosine: exact driver replay on random vectors; LSH core subset") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 30L).map(i => i -> Array.fill(4)(rnd.nextGaussian()))
    val df = vecs.map { case (i, v) => (i, v.toSeq, 1) }
      .toDF("vec_id", "embedding", "label")
    val got = LlmOps.dbscanCosine(df, eps = 0.5, minPts = 3, blockCol = "label")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    // driver replay with the IDENTICAL double arithmetic (dot and norms
    // summed in index order, cos = dot / (na * nb)) so pair inclusion
    // is bit-identical
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (k <- 0 until 4) { d += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val vm = vecs.toMap
    val prs = for { i <- 0L until 30L; j <- (i + 1) until 30L
      if cos(vm(i), vm(j)) >= 0.5 } yield (i, j)
    val adj = (prs ++ prs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap.withDefaultValue(Set.empty[Long])
    val core = (0L until 30L).filter(i => adj(i).size + 1 >= 3).toSet
    // union-find over core-core edges -> min-id clusters
    val parent = scala.collection.mutable.Map((0L until 30L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for ((i, j) <- prs if core(i) && core(j)) {
      val (a, b) = (find(i), find(j)); if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val expect = (0L until 30L).map { i =>
      if (core(i)) i -> (("core", Some(find(i))))
      else {
        val cn = adj(i).filter(core)
        if (cn.nonEmpty) i -> (("border", Some(cn.map(find).min)))
        else i -> (("noise", None))
      }
    }.toMap
    assert(got == expect)
    // the fixture slice exercises all three roles (52/70/80 at these
    // parameters); banded LSH can only MISS pairs -> degrees only drop
    // -> its core set is a subset of the exact one, with banding recall
    val e = embs.filter(col("label") <= 3).withColumn("__all", lit(1))
    def run(method: String) =
      LlmOps.dbscanCosine(e, 0.3, 4, blockCol = "__all", method = method)
        .collect().map(r => r.getLong(0) -> r.getString(1))
    val exact = run("exact")
    assert(exact.map(_._2).toSet == Set("core", "border", "noise"))
    def coreOf(rows: Array[(Long, String)]) =
      rows.collect { case (id, "core") => id }.toSet
    val (ce, cl) = (coreOf(exact), coreOf(run("lsh")))
    assert(cl.subsetOf(ce))
    assert(cl.size >= (ce.size * 0.8).toInt, s"lsh core recall ${cl.size}/${ce.size}")
    LlmOps.releaseCaches()
  }

  test("ann-sq8: deterministic params, exact re-ranked scores, brute-force limit") {
    val (mins, maxs) = LlmOps.sq8Params(embs)
    assert(mins.length == 64 && maxs.length == 64)
    assert(mins.zip(maxs).forall { case (mn, mx) => mn <= mx })
    // deterministic: a second computation is bit-identical (min/max are
    // merge-order independent — no seed anywhere in the operator)
    val (mins2, maxs2) = LlmOps.sq8Params(embs)
    assert(mins.toSeq == mins2.toSeq && maxs.toSeq == maxs2.toSeq)
    val exact = LlmOps.cosineAll(embs, queryId = 0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r4 = LlmOps.annCosineSq8(embs, queryId = 0, k = 10, refine = 4).collect()
    r4.foreach { r => assert(math.abs(r.getDouble(1) - exact(r.getLong(0))) <= 1e-4) }
    assert(r4.map(_.getDouble(1)).max == 1.0)
    // SQ8 at 8 bits/dim is a tight quantizer: top-10 recall vs brute
    // force should be high even at small refine
    val brute = LlmOps.knnCosine(embs, queryId = 0, k = 10).collect()
      .map(_.getLong(0)).toSet
    assert(r4.map(_.getLong(0)).count(brute.contains) >= 8)
    // refine >= n/k degenerates to brute force
    val n = embs.count().toInt
    val full = LlmOps.annCosineSq8(embs, queryId = 0, k = 10, refine = n / 10 + 1)
      .collect().map(_.getLong(0)).toSeq
    assert(full == LlmOps.knnCosine(embs, queryId = 0, k = 10).collect()
      .map(_.getLong(0)).toSeq)
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "embeddings | evaluate ann_sq8(0, 5, 4, vec_id, embedding)", TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("vec_id", "cos") && kql.count() == 5)
  }

  test("ivf-pq index: meta round-trip, pruned code scan, exact re-rank, brute-force limit") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx").toString
    val (cents, cbs) = LlmOps.buildPqIndex(embs, dir, nLists = 8)
    // quantizer metadata survives the round-trip exactly
    val (rc, rcb) = LlmOps.readPqIndexMeta(spark, dir)
    assert(rc.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(rcb.map(_.map(_.toSeq).toSeq).toSeq == cbs.map(_.map(_.toSeq).toSeq).toSeq)
    // the codes files carry only (id, codes, cell) — m bytes of codes,
    // never the vector (the index's I/O economics)
    val codesSchema = spark.read.parquet(s"$dir/codes").schema.fieldNames.toSet
    assert(codesSchema == Set("id", "codes", "__cell"))
    val qRaw = embs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head.getSeq[Double](0).toArray
    // full probe + corpus-sized refine degenerates to brute force
    val n = embs.count().toInt
    val full = LlmOps.annCosineIvfPqIndexed(spark, dir, qRaw, k = 10,
      nProbe = 8, refine = n / 10 + 1).collect()
    val brute = LlmOps.knnCosine(embs, queryId = 0, k = 10).collect()
    assert(full.map(_.getLong(0)).toSeq == brute.map(_.getLong(0)).toSeq)
    // partial probe: self-hit survives, every score exact, scan pruned
    val part = LlmOps.annCosineIvfPqIndexed(spark, dir, qRaw, k = 10,
      nProbe = 2, refine = 4).collect()
    assert(part.map(_.getDouble(1)).max == 1.0)
    val exact = LlmOps.cosineAll(embs, queryId = 0).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    part.foreach { r => assert(math.abs(r.getDouble(1) - exact(r.getLong(0))) <= 1e-4) }
    val probes = LlmOps.ivfProbeCells(cents, qRaw, 2)
    val codes = spark.read.parquet(s"$dir/codes")
    val scanned = codes.filter(col("__cell").isin(probes: _*)).count()
    assert(scanned > 0 && scanned < codes.count())
  }

  test("containmentPairs: embedded doc has containment 1.0 despite low jaccard") {
    val small = "alpha bravo charlie delta echo foxtrot golf hotel"
    val filler = (1 to 60).map(i => s"word$i").mkString(" ")
    val d = Seq(
      (1L, small),                       // 8 tokens, 4 shingles at w=5
      (2L, s"$filler $small"),           // contains doc 1 verbatim
      (3L, "totally unrelated content here with nothing shared at all")
    ).toDF("doc_id", "text")
    val rows = LlmOps.containmentPairs(d, threshold = 0.9, w = 5).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L))) // i < j
    assert(r.getAs[Double]("cont_ij") == 1.0)  // all of doc 1 inside doc 2
    assert(r.getAs[Double]("cont_ji") < 0.2)   // asymmetric: doc 2 mostly novel
    // jaccard would have missed this pair at any usable threshold
    val jac = LlmOps.jaccardPairs(d, 0.3).collect()
    assert(!jac.exists(x => x.getLong(0) == 1L && x.getLong(1) == 2L))
    // threshold filters: at 1.01 nothing passes
    assert(LlmOps.containmentPairs(d, 1.01, w = 5).count() == 0)
    // maxDf skew guard: df for every shared shingle here is 2, so a cap
    // of 1 empties the index (the hot-shingle drop) while cap 2 is the
    // exact measure
    assert(LlmOps.containmentPairs(d, 0.9, w = 5, maxDf = Some(1L)).count() == 0)
    assert(LlmOps.containmentPairs(d, 0.9, w = 5, maxDf = Some(2L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate containment_pairs(0.8, 5, text, doc_id)", TestSpark.sfDir)
    assert(kql.columns.toSeq ==
      Seq("i", "j", "inter", "n_i", "n_j", "cont_ij", "cont_ji"))
    // containment DEDUP on the same corpus + an exact copy of doc 1:
    // doc 1 ⊂ doc 2 → dropped (kept superset); doc 4 ≡ doc 1 → mutual
    // containment keeps the min id (1 is itself dropped into 2 — the
    // greedy chain's top, doc 2, survives)
    val d4 = d.unionByName(Seq((4L, small)).toDF("doc_id", "text"))
    val dd = LlmOps.dedupContained(d4, threshold = 0.9, w = 5).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(dd(1L) == ((false, Some(2L))))
    assert(dd(2L) == ((true, None)))   // the superset survives
    assert(dd(3L) == ((true, None)))   // unrelated doc untouched
    assert(dd(4L)._1 == false)         // the copy drops (into 1 or 2)
  }

  test("winnowContamination: planted span detected, exact join replay, minShared gates") {
    import spark.implicits._
    val train = Seq(
      (1L, (1 to 30).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 30).map(i => s"b$i").mkString(" "))).toDF("doc_id", "text")
    val ev = Seq(
      (10L, (5 to 20).map(i => s"a$i").mkString(" ")), // 16-token span of doc 1
      (11L, (1 to 12).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val got = LlmOps.winnowContamination(train, ev, k = 4, w = 5, minShared = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a >= k+w-1-token common run MUST share a fingerprint (winnowing
    // density guarantee) -> the (1, 10) pair exists; the disjoint eval
    // doc 11 matches nothing
    assert(got.contains((1L, 10L)))
    assert(!got.keySet.exists(_._2 == 11L))
    // exact replay: recompute the per-pair shared-fp counts from the
    // fingerprint frames directly
    val tf = LlmOps.winnowFingerprints(train, 4, 5)
      .select("doc_id", "fp").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ef = LlmOps.winnowFingerprints(ev, 4, 5)
      .select("doc_id", "fp").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nEval = ef.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val want = (for { (t, f) <- tf.toSeq; (e, f2) <- ef.toSeq if f == f2 }
      yield (t, e)).groupBy(x => x).view.mapValues(_.size.toLong).toMap
      .map { case ((t, e), n) => (t, e) -> ((n, nEval(e), n * 1000000L / nEval(e))) }
    assert(got == want)
    // minShared gate: an impossible floor empties the report
    assert(LlmOps.winnowContamination(train, ev, 4, 5, minShared = 1000).count() == 0L)
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      """let E = documents | where doc_id % 7 == 0;
         documents | evaluate winnow_contamination(E, 4, 5, 2, text, doc_id)""",
      TestSpark.sfDir)
    assert(kql.columns.toSeq ==
      Seq("train_id", "eval_id", "n_shared", "n_eval_fp", "frac_micros"))
  }

  test("pca: exact 2D line recovery, orthonormal axes, eigen-matched projections") {
    import spark.implicits._
    // points on the line y = 2x: C = [[2,4],[4,8]], eigenvalues {10, 0},
    // principal axis (1,2)/sqrt(5), projection of (i,2i) = i*sqrt(5)
    val pts = (-2 to 2).map(i => (i.toLong, Seq(i.toFloat, (2 * i).toFloat)))
    val df = pts.toDF("vec_id", "embedding")
    val (mean, comps, evals, totVar) = LlmOps.pcaFit(df, 2)
    assert(mean.forall(m => math.abs(m) < 1e-12))
    assert(math.abs(totVar - 10.0) < 1e-9)
    assert(math.abs(evals(0) - 10.0) < 1e-9 && math.abs(evals(1)) < 1e-9)
    assert(math.abs(comps(0)(0) - 1 / math.sqrt(5)) < 1e-9)
    assert(math.abs(comps(0)(1) - 2 / math.sqrt(5)) < 1e-9)
    LlmOps.pca(df, 1).collect().foreach { r =>
      assert(math.abs(r.getDouble(2) - r.getLong(0) * math.sqrt(5)) < 1e-9)
    }
    // fixture embeddings: orthonormal axes, descending eigenvalues
    // bounded by total variance, per-axis projected population
    // variance == eigenvalue
    val (_, c64, ev64, tv64) = LlmOps.pcaFit(embs, 6)
    def dot(u: Array[Double], v: Array[Double]) = u.indices.map(i => u(i) * v(i)).sum
    for (i <- c64.indices; j <- c64.indices)
      assert(math.abs(dot(c64(i), c64(j)) - (if (i == j) 1.0 else 0.0)) < 1e-8)
    assert(ev64.indices.drop(1).forall(i => ev64(i - 1) >= ev64(i) - 1e-12))
    assert(ev64.forall(_ >= -1e-9) && ev64.sum <= tv64 + 1e-6 * tv64)
    val stats = LlmOps.pca(embs, 6).groupBy("pc")
      .agg(org.apache.spark.sql.functions.avg(org.apache.spark.sql.functions.col("proj")).as("m"),
        org.apache.spark.sql.functions.avg(org.apache.spark.sql.functions.col("proj") *
          org.apache.spark.sql.functions.col("proj")).as("m2")).collect()
    stats.foreach { r =>
      val v = r.getDouble(2) - r.getDouble(1) * r.getDouble(1)
      assert(math.abs(v - ev64(r.getInt(0) - 1)) <= 1e-6 * math.max(tv64, 1.0))
      assert(math.abs(r.getDouble(1)) <= 1e-6 * (1 + math.sqrt(tv64)))
    }
    // KQL-reachable
    val kql = graft.kql.Kql.run(spark,
      "embeddings | evaluate pca(2, vec_id, embedding)", TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("vec_id", "pc", "proj"))
  }

  test("IVF/PQ index builds are run-deterministic under arbitrary scan order") {
    // The r6 finding: trainIvfCentroids limit-sampled WITHOUT orderBy, so
    // the collected row order — which seeds kmeansDriver's shuffled init —
    // depended on task-completion order. Rebuild the same index from a
    // round-robin-shuffled input (different partitioning ⇒ different scan
    // order) and demand BIT-identical quantizers and meta/ tables.
    def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToLongBits)
    val shuffled = embs.repartition(7)
    val d1 = java.nio.file.Files.createTempDirectory("graft_det1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_det2").toString
    val c1 = LlmOps.buildIvfIndex(embs, d1, nLists = 8)
    val c2 = LlmOps.buildIvfIndex(shuffled, d2, nLists = 8)
    assert(c1.map(c => bits(c.toSeq)).toSeq == c2.map(c => bits(c.toSeq)).toSeq)
    val p1 = java.nio.file.Files.createTempDirectory("graft_detpq1").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft_detpq2").toString
    LlmOps.buildPqIndex(embs, p1, nLists = 8)
    LlmOps.buildPqIndex(shuffled, p2, nLists = 8)
    def meta(path: String): Seq[(String, Int, Int, Seq[Long])] =
      spark.read.parquet(s"$path/meta").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), bits(r.getSeq[Double](3))))
        .toSeq.sortBy(t => (t._1, t._2, t._3))
    assert(meta(p1) == meta(p2))
    // the starvation fallback branch (sample < 4·nLists) is ordered too:
    // at nLists=64 the 1/16 hash-sample of the 500-row fixture starves
    val f1 = LlmOps.trainIvfCentroids(embs, nLists = 64)
    val f2 = LlmOps.trainIvfCentroids(shuffled, nLists = 64)
    assert(f1.map(c => bits(c.toSeq)).toSeq == f2.map(c => bits(c.toSeq)).toSeq)
  }

  test("bm25 replays the exact Okapi formula, ranks deterministically, cuts at k") {
    val corpus = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana banana banana banana"),
      (4L, "cherry date elderberry fig grape")
    ).toDF("doc_id", "text")
    // driver replay of the exact per-(doc, term) micro contribution
    val nC = 4L; val avgdl = 14.0.toLong.toDouble / nC
    def cu(tf: Long, df: Long, dl: Int): Long = {
      val idf = math.log(1.0 + ((nC - df).toDouble + 0.5) / (df.toDouble + 0.5))
      val tfn = tf * (1.2 + 1.0) /
        (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
      math.round(idf * tfn * 1e6)
    }
    val exp = Map(
      1L -> (cu(2, 2, 3) + cu(1, 2, 3)), // matches both query terms
      2L -> cu(1, 2, 2),
      3L -> cu(4, 2, 4))
    val r = LlmOps.bm25(corpus, "apple banana", k = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.map(_._1).toSet == Set(1L, 2L, 3L)) // doc 4 matches nothing
    assert(r.map(t => t._1 -> t._3).toMap == exp) // micros value-exact
    assert(r.map(t => t._1 -> t._2).toMap == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    val scores = r.map(_._3).toSeq
    assert(scores == scores.sorted.reverse) // ranked desc
    // k cut keeps the top-k of the same order
    val top2 = LlmOps.bm25(corpus, "apple banana", k = 2).collect()
      .map(_.getLong(0)).toSeq
    assert(top2 == r.map(_._1).take(2).toSeq)
    // deterministic id tiebreak: two identical docs tie -> lower id first
    val ties = Seq((7L, "kiwi"), (5L, "kiwi"), (6L, "kiwi"))
      .toDF("doc_id", "text")
    assert(LlmOps.bm25(ties, "kiwi", k = 3).collect()
      .map(_.getLong(0)).toSeq == Seq(5L, 6L, 7L))
    // KQL surface
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate bm25('fast window', 5, text, doc_id)",
      TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("doc_id", "n_terms", "score_u"))
    assert(kql.count() == 5)
  }


  test("linReg: planted recovery, closed-form slope, orthogonality, guards, KQL") {
    // exact planted fit: y = 2x - 5 recovered to machine precision
    val d1 = Seq((1L, 10L), (2L, 20L), (3L, 35L), (4L, 70L), (5L, 41L))
      .toDF("id", "x").withColumn("y", lit(2L) * col("x") - lit(5L))
    val m1 = LlmOps.linReg(d1, "y", Seq("x")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m1("x") - 2.0) < 1e-9)
    assert(math.abs(m1("_intercept") + 5.0) < 1e-9)
    assert(m1("_n") == 5.0 && math.abs(m1("_r2") - 1.0) < 1e-9)
    // noisy single feature ≡ the closed-form slope/intercept
    val pts = Seq((1.0, 3.1), (2.0, 4.9), (3.0, 7.2), (4.0, 8.8), (5.0, 11.1))
    val d2 = pts.toDF("x", "y")
    val m2 = LlmOps.linReg(d2, "y", Seq("x")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val icpt = (sy - slope * sx) / n
    assert(math.abs(m2("x") - slope) < 1e-9)
    assert(math.abs(m2("_intercept") - icpt) < 1e-9)
    assert(m2("_r2") > 0.99 && m2("_r2") < 1.0)
    // normal equations ⇒ residuals orthogonal to every regressor
    val rows2 = pts.map { case (x, y) =>
      (x, y - (m2("_intercept") + m2("x") * x)) }
    assert(math.abs(rows2.map(_._2).sum) < 1e-9)          // ⊥ intercept
    assert(math.abs(rows2.map(t => t._1 * t._2).sum) < 1e-9) // ⊥ x
    // collinear features fail loudly, not with a garbage fit
    val d3 = d1.withColumn("x2", col("x") * 2)
    val ex = intercept[Exception] {
      LlmOps.linReg(d3, "y", Seq("x", "x2")).collect()
    }
    assert(ex.getMessage.contains("singular"))
    // constant target: R² defined as 1 (intercept-only exact fit)
    val d4 = d1.withColumn("y", lit(9L))
    val m4 = LlmOps.linReg(d4, "y", Seq("x")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(m4("_r2") - 1.0) < 1e-9)
    assert(math.abs(m4("_intercept") - 9.0) < 1e-9)
    // KQL surface
    val kql = graft.kql.Kql.run(spark,
      "documents | extend y = 2 * n_chars + 1 | evaluate linreg(y, n_chars)",
      TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("feature", "coef"))
    val mk = kql.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(mk("n_chars") - 2.0) < 1e-6)
  }


  test("cmsCount: est >= true always, exact at wide width, shards merge, KQL") {
    // exact token counts on the fixture
    val exact = docs.select(explode(split(lower(col("text")), "\\s+")).as("t"))
      .filter(length(col("t")) >= 1)
      .groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val probes = "scan join window stream fast zebra"
    val est = LlmOps.cmsCount(docs, probes, width = 512, depth = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == probes.split(" ").toSet)
    // the structural CMS guarantee: never underestimates
    for ((t, e) <- est) assert(e >= exact.getOrElse(t, 0L), s"under at $t")
    // overestimate bounded: depth-4 min of width-512 rows over ~27k
    // tokens keeps collision mass small (loose 2x bound, tight below)
    for ((t, e) <- est if exact.contains(t))
      assert(e <= exact(t) * 2, s"wild overestimate at $t")
    // a wide sketch is exact on this vocabulary (~30 distinct tokens)
    val wide = LlmOps.cmsCount(docs, probes, width = 65536, depth = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((t, e) <- wide) assert(e == exact.getOrElse(t, 0L), s"wide $t")
    // counters are additive: the sketch of a doubled corpus estimates
    // exactly twice the original (same hashes, doubled counts)
    val doubled = LlmOps.cmsCount(
      docs.unionByName(docs), probes, width = 512, depth = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(doubled == est.map { case (t, e) => t -> e * 2 })
    // deterministic across partitionings
    val reparted = LlmOps.cmsCount(docs.repartition(13), probes,
      width = 512, depth = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reparted == est)
    // KQL surface
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate cms_count('scan zebra', 512, 4, text)",
      TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("token", "est"))
    assert(kql.count() == 2)
  }


  test("flacMeta: canonical STREAMINFO, 36-bit totals, degraded inputs to null") {
    // 44.1 kHz stereo 16-bit, 441000 samples: hi = rate<<12 | 1<<9 |
    // 15<<4 = 0x0AC442F0, lo = 0x0006BAA8; duration 10000 ms
    val head = "664C6143" + "00" + "000022" + "1000" + "1000" +
      "000000" + "000000"
    val rows = Seq(
      1L -> (head + "0AC442F0" + "0006BAA8"),
      // last-block flag set (0x80) parses the same
      2L -> ("664C6143" + "80" + "000022" + "1000" + "1000" +
        "000000" + "000000" + "0AC442F0" + "0006BAA8"),
      // 36-bit total: top nibble 0x2 adds 2 * 2^32 samples
      3L -> (head + "0AC442F2" + "0006BAA8"),
      4L -> "664C614300",                       // truncated after magic
      5L -> ("664C6143" + "04" + "000022" + "1000" + "1000" +
        "000000" + "000000" + "0AC442F0" + "0006BAA8"), // wrong first block type
      6L -> "DEADBEEF0000000000000000000000000000000000000000000000"
    ).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val got = LlmOps.flacMeta(rows, "payload").collect().map { r =>
      def oi(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getInt(r.fieldIndex(c)))
      def ol(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getLong(r.fieldIndex(c)))
      r.getLong(0) -> ((oi("sample_rate"), oi("n_channels"),
        oi("bits_per_sample"), ol("total_samples"), ol("duration_ms")))
    }.toMap
    assert(got(1L) == ((Some(44100), Some(2), Some(16), Some(441000L), Some(10000L))))
    assert(got(2L) == got(1L))
    assert(got(3L) == ((Some(44100), Some(2), Some(16),
      Some(441000L + 2L * 4294967296L), Some((441000L + 2L * 4294967296L) * 1000L / 44100L))))
    assert(got(4L) == ((None, None, None, None, None)))
    assert(got(5L) == ((None, None, None, None, None)))
    assert(got(6L) == ((None, None, None, None, None)))
    // KQL-reachable; string payloads are not FLAC -> all null
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate flac_meta(text) | summarize n = countif(isnull(sample_rate))",
      TestSpark.sfDir)
    assert(kql.head.getLong(0) > 0)
  }


  test("logRegScore: separable corpora converge, probabilities sane, KQL") {
    // clearly separable synthetic corpus: class tokens never overlap
    val pos = (0 until 40).map(i => (i.toLong, 1, s"good great solid value item$i"))
    val neg = (40 until 80).map(i => (i.toLong, 0, s"bad awful broken junk item$i"))
    val corpus = (pos ++ neg).toDF("doc_id", "label", "text")
    val rows = LlmOps.logRegScore(corpus, "label", dim = 64, iters = 12,
      lr = 1.3).collect()
    assert(rows.length == 80)
    def acc(rs: Array[org.apache.spark.sql.Row]): Double =
      rs.count(r => r.getInt(r.fieldIndex("predicted")) ==
        r.getInt(r.fieldIndex("label"))).toDouble / rs.length
    assert(acc(rows) >= 0.95, s"separable acc ${acc(rows)}")
    // probabilities in (0,1); margin sign agrees with the prediction
    rows.foreach { r =>
      val p = r.getDouble(r.fieldIndex("prob"))
      assert(p > 0.0 && p < 1.0)
      assert((r.getDouble(r.fieldIndex("margin")) >= 0.0) ==
        (r.getInt(r.fieldIndex("predicted")) == 1))
    }
    LlmOps.releaseCaches()
    // fixture with a planted marker token: every doc_id % 3 == 0 doc
    // carries ' qualmark'; the classifier must learn the marker bucket
    val d = docs.withColumn("label",
        when(pmod(col("doc_id"), lit(3)) === 0, 1).otherwise(0))
      .withColumn("text",
        when(col("label") === 1, concat(col("text"), lit(" qualmark")))
          .otherwise(col("text")))
    val rows2 = LlmOps.logRegScore(d, "label", dim = 256, iters = 12,
      lr = 1.3).collect()
    assert(rows2.length == docs.count())
    assert(acc(rows2) >= 0.95, s"marker acc ${acc(rows2)}")
    LlmOps.releaseCaches()
    // KQL surface
    val kql = graft.kql.Kql.run(spark,
      """documents
        | extend label = iff(doc_id % 3 == 0, 1, 0),
                 text2 = iff(doc_id % 3 == 0, strcat(text, ' qualmark'), text)
        | evaluate logreg_score(10, 64, label, text2, doc_id)
        | summarize n = count()""", TestSpark.sfDir)
    assert(kql.head.getLong(0) == docs.count())
    LlmOps.releaseCaches()
  }


  test("rrfFuse: exact micros, consensus beats single-system, ANN hybrid, KQL") {
    // hand case: doc 1 ranks 1st + 2nd, doc 2 ranks 2nd + 1st, doc 3
    // only 3rd in A, doc 4 only 3rd in B
    val ranked = Seq(
      ("A", 1L, 1), ("A", 2L, 2), ("A", 3L, 3),
      ("B", 2L, 1), ("B", 1L, 2), ("B", 4L, 3)
    ).toDF("system", "doc_id", "rank")
    val r = LlmOps.rrfFuse(ranked, k0 = 60, topK = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    def cu(rk: Int): Long = math.round(1e6 / (60 + rk))
    assert(r.map(t => t._1 -> t._3).toMap == Map(
      1L -> (cu(1) + cu(2)), 2L -> (cu(1) + cu(2)),
      3L -> cu(3), 4L -> cu(3)))
    // equal scores tie-break on id; consensus docs outrank singles
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(r.take(2).forall(_._2 == 2L))
    // a duplicated (system, id) row must not double-count its system:
    // normalization keeps the best rank per (system, id)
    val dup = ranked.unionByName(
      Seq(("A", 1L, 3)).toDF("system", "doc_id", "rank"))
    val rd = LlmOps.rrfFuse(dup, k0 = 60, topK = 10).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(rd.find(_._1 == 1L).get._2 == 2L)            // still 2 systems
    assert(rd.find(_._1 == 1L).get._3 == cu(1) + cu(2)) // best rank kept
    // ANN-side hybrid: fuse bm25 with embedding-kNN ranks (same-engine
    // spec because FP cosine near-ties make rank order engine-local)
    val bm = LlmOps.bm25(docs, "fast window", k = 20)
      .select(col("doc_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score_u").desc, col("doc_id"))).as("rank"))
      .withColumn("system", lit("bm25"))
    val ann = LlmOps.knnCosine(embs, queryId = 0, k = 20)
      .select(col("vec_id"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").desc, col("vec_id"))).as("rank"))
      .withColumnRenamed("vec_id", "doc_id")
      .withColumn("system", lit("ann"))
    val fused = LlmOps.rrfFuse(bm.unionByName(ann), k0 = 60, topK = 15)
      .collect()
    assert(fused.length == 15)
    // every fused doc came from at least one system; scores descend
    val scores = fused.map(_.getLong(2)).toSeq
    assert(scores == scores.sorted.reverse)
    // KQL surface
    val kql = graft.kql.Kql.run(spark,
      """documents
        | sort by doc_id asc
        | extend system = 'len', rank = toint(row_number())
        | where rank <= 20
        | evaluate rrf_fuse(60, 5, system, doc_id, rank)""",
      TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("doc_id", "n_systems", "rrf_u"))
    assert(kql.count() == 5)
  }


  test("mp3Meta: frame header, ID3v2 syncsafe skip, reserved indexes to null") {
    // 0xFFFB = MPEG-1 Layer III no-CRC; 0x92 = bitrate idx 9 (128kbps),
    // rate idx 0 (44100), padding 1; 0xC0 = mode 3 (mono)
    val frame = "FFFB" + "92" + "C0"
    // ID3v2: 'ID3' v2.4 flags 0, syncsafe size 5, 5 junk bytes
    val id3 = "494433" + "0400" + "00" + "000000" + "05" + "00" * 5
    val rows = Seq(
      1L -> frame,
      2L -> (id3 + frame),
      3L -> ("FFFB" + "02" + "C0"),  // bitrate idx 0 = free format -> null
      4L -> ("FFFB" + "F2" + "C0"),  // bitrate idx 15 = reserved -> null
      5L -> ("FFFB" + "9E" + "C0"),  // rate idx 3 = reserved -> null
      6L -> "FFFB",                   // truncated
      7L -> ("FFF3" + "92" + "C0"),  // version bits 10 = MPEG-2 -> null
      8L -> "DEADBEEF00000000"
    ).toDF("id", "hx").withColumn("payload", unhex(col("hx")))
    val got = LlmOps.mp3Meta(rows, "payload").collect().map { r =>
      def oi(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getInt(r.fieldIndex(c)))
      def ol(c: String) = if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getLong(r.fieldIndex(c)))
      r.getLong(0) -> ((oi("bitrate_kbps"), oi("sample_rate"),
        oi("n_channels"), ol("frame_bytes")))
    }.toMap
    // frame = 128*144000/44100 + 1 = 417 + 1 = 418
    assert(got(1L) == ((Some(128), Some(44100), Some(1), Some(418L))))
    assert(got(2L) == got(1L)) // ID3 skipped via syncsafe size
    for (k <- 3L to 8L)
      assert(got(k) == ((None, None, None, None)), s"row $k")
    // KQL-reachable; string payloads are not MP3 -> all null
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate mp3_meta(text) | summarize n = countif(isnull(sample_rate))",
      TestSpark.sfDir)
    assert(kql.head.getLong(0) > 0)
  }


  test("sourceKl: hand-computed divergences, identical source = 0, KQL") {
    // srcA: "a a b"; srcB: "c". corpus: a:2 b:1 c:1 (C=4)
    // KL(A) = 2/3 ln((2/3)/(2/4)) + 1/3 ln((1/3)/(1/4))
    // KL(B) = 1 ln(1/(1/4)) = ln 4
    val d = Seq(("srcA", "a a b"), ("srcB", "c")).toDF("source", "text")
    val r = LlmOps.sourceKl(d).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    def u(p: Double, q: Double): Long = math.round(p * math.log(p / q) * 1e6)
    val pa = 2.0 / 3; val pb = 1.0 / 3
    assert(r("srcA") == ((2L, u(pa, 2.0 / 4) + u(pb, 1.0 / 4))))
    assert(r("srcB") == ((1L, u(1.0, 1.0 / 4))))
    LlmOps.releaseCaches()
    // two sources with the SAME distribution both diverge ~0
    val same = Seq(("s1", "x y"), ("s2", "x y")).toDF("source", "text")
    val rs = LlmOps.sourceKl(same).collect().map(_.getLong(2))
    assert(rs.forall(math.abs(_) <= 1)) // micro rounding only
    LlmOps.releaseCaches()
    // KQL surface on the fixture: every source diverges >= 0 (up to
    // rounding) and the op covers all sources
    val kql = graft.kql.Kql.run(spark,
      "documents | evaluate source_kl(text, source)", TestSpark.sfDir)
    assert(kql.columns.toSeq == Seq("source", "n_terms", "kl_u"))
    val rows = kql.collect()
    assert(rows.length == docs.select("source").distinct().count())
    assert(rows.forall(_.getLong(2) >= -rows.length)) // >= 0 up to micros
    LlmOps.releaseCaches()
  }
}

object LlmOpsSpec {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The nine binary-header parsers, each over a `payload` column. */
  val parsers: Seq[(String, DataFrame => DataFrame)] = Seq(
    "sniffMediaType" -> (LlmOps.sniffMediaType(_, "payload")),
    "mediaDims" -> (LlmOps.mediaDims(_, "payload")),
    "audioMeta" -> (LlmOps.audioMeta(_, "payload")),
    "flacMeta" -> (LlmOps.flacMeta(_, "payload")),
    "mp3Meta" -> (LlmOps.mp3Meta(_, "payload")),
    "videoMeta" -> (LlmOps.videoMeta(_, "payload")),
    "avifDims" -> (LlmOps.avifDims(_, "payload")),
    "oggMeta" -> (LlmOps.oggMeta(_, "payload")),
    "exifMeta" -> (LlmOps.exifMeta(_, "payload")))

  /** Fuzz input for the parsers: `doc_id`, `payload`. Every signature
    * a parser dispatches on, followed by random bytes; then every
    * truncation (0 to 64 bytes, and the whole) of one valid header per
    * supported format; then a null payload. */
  def parserFuzz(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def bytes(hx: String): Array[Byte] =
      hx.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val rnd = new scala.util.Random(7)
    val sigs = Seq("89504E470D0A1A0A", "47494638", "424D", "FFD8FF",
      "52494646AAAAAAAA57454250", "52494646AAAAAAAA57415645", "1F8B", "",
      "664C6143", "FFFB", "494433", "0000001C6674797061766966",
      "4F67675300", "49492A00", "4D4D002A", "FFD8FFE1")
    val random = (0 until 320).map { i =>
      bytes(sigs(i % sigs.length)) ++
        Array.fill(rnd.nextInt(48))(rnd.nextInt(256).toByte)
    }
    val riff = "52494646" + "00000000" + "57454250"
    val mvhd = "0000001C" + "6D766864" + "00000000" * 3 + "00000258" + "000004B0"
    val tkhd = "0000005C" + "746B6864" + "00000007" + "00" * 72 +
      "01400000" + "00B40000"
    val ispe = "00000014" + "69737065" + "00000000" + "00000280" + "000001E0"
    val oggPage = "4F676753" + "00" + "02" + "00" * 8 + "AABBCCDD" +
      "00000000" + "11223344" + "02" + "1313"
    val mmTiff = "4D4D002A" + "00000008" + "0003" +
      "0100" + "0004" + "00000001" + "00000140" +
      "0101" + "0003" + "00000001" + "00B40000" +
      "0112" + "0003" + "00000001" + "00060000"
    val valid = Seq(
      // PNG 800x600, GIF89a 320x200, BMP 800x(-600)
      "89504E470D0A1A0A" + "0000000D" + "49484452" + "00000320" +
        "00000258" + "0802000000",
      "474946383961" + "4001" + "C800" + "F700",
      "424D" + "00" * 12 + "28000000" + "20030000" + "A8FDFFFF" + "0100",
      // JPEG: APP0 then SOF0 123x45
      "FFD8" + "FFE00010" + "4A46494600010100000100010000" + "FFC0" +
        "0011" + "08" + "002D" + "007B" + "03" + "012200" + "021101",
      // WebP VP8, VP8L, VP8X
      riff + "56503820" + "00000000" + "000000" + "9D012A" + "4001" + "F000",
      riff + "5650384C" + "00000000" + "2F" + "7A000B00",
      riff + "56503858" + "00000000" + "00" + "000000" + "E70300" + "F30100",
      // WAV: odd LIST chunk, fmt (16 kHz mono 8-bit), data
      "52494646" + "A8000000" + "57415645" + "4C495354" + "03000000" +
        "00000000" + "666D7420" + "10000000" + "0100" + "0100" +
        "803E0000" + "803E0000" + "0100" + "0800" + "64617461" + "64000000",
      // FLAC STREAMINFO: 44.1 kHz stereo 16-bit
      "664C6143" + "00" + "000022" + "1000" + "1000" + "000000" + "000000" +
        "0AC442F0" + "0006BAA8",
      // MP3 behind an ID3v2 tag
      "494433" + "0400" + "00" + "000000" + "05" + "00" * 5 + "FFFB92C0",
      // MP4: ftyp, moov{mvhd, trak{tkhd}}
      "00000010" + "66747970" + "69736F6D" + "00000000" + "00000088" +
        "6D6F6F76" + mvhd + "00000064" + "7472616B" + tkhd,
      // AVIF: ftyp, meta{iprp{ipco{ispe 640x480}}}
      "00000010" + "66747970" + "61766966" + "00000000" + "00000030" +
        "6D657461" + "00000000" + "00000024" + "69707270" + "0000001C" +
        "6970636F" + ispe,
      // Ogg: Opus and Vorbis identification packets
      oggPage + "4F70757348656164" + "01" + "03" + "3801" + "80BB0000" + "0000",
      oggPage + "01766F72626973" + "00000000" + "02" + "44AC0000" + "00000000",
      // TIFF II (SHORT width), and MM inside a JPEG APP1-Exif wrap
      "49492A00" + "08000000" + "0200" + "0001" + "0300" + "01000000" +
        "2800" + "0000" + "1201" + "0300" + "01000000" + "0300" + "0000",
      "FFD8" + "FFE1" + "0040" + "457869660000" + mmTiff)
    val truncated = valid.map(bytes).flatMap(v =>
      (0 to math.min(64, v.length)).map(v.take) :+ v)
    val payloads = (random ++ truncated).map(Option(_)) :+ None
    payloads.zipWithIndex.map { case (p, i) => (i.toLong, p.orNull) }
      .toDF("doc_id", "payload")
  }
}
