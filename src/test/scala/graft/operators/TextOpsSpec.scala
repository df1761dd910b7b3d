package graft.operators

import graft.{SparkSpec, Tables => T}
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Scale-shape evidence for the MinHash+LSH dedup path: the banded
  * candidate set must grow sub-quadratically in the corpus size —
  * 2-row bands (k=16, bands=8) collide for unrelated pairs at ≈ s² per
  * band and blow up ~O(n²) at 100×; the 4-row bands used by x8 (k=32,
  * bands=8) collide at ≈ s⁴ and stay near-linear.
  */
class TextOpsSpec extends SparkSpec {

  it("the banded signature frame is built once per dataset key") {
    val e = T.embeddings(spark, "/root/testdata/sf0.001")
    val f1 = SimilarityOps.cachedBucketedFrame("spec-frame", e, 4, Seq(42L), 64)
    val f2 = SimilarityOps.cachedBucketedFrame("spec-frame",
      e.limit(1), 4, Seq(42L), 64) // a rebuild would use this frame
    assert(f1 eq f2, "signature frame was rebuilt for the same key")
    assert(f1.storageLevel.useDisk || f1.storageLevel.useMemory,
      "signature frame is not persisted")
  }

  it("x13 simhash banding finds EXACTLY the brute-force hamming<=3 pairs") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val banded = graft.SparkEntry.queries("x13_simhash_neardup")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val fp = T.documents(spark, sf)
      .select(col("doc_id"),
        transform(split(trim(col("text")), "\\s+"),
          t => graft.functions.PolyHash64.polyhash64(t)).as("hs"))
      .select(col("doc_id"), expr(TextOps.simhashSqlOverHs).as("simhash"))
    val a = fp.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val brute = a.crossJoin(
        fp.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b")))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr("bit_count(sh_a ^ sh_b)") <= 3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size}: pigeonhole violated")
    assert(brute.nonEmpty, "corpus has no near-dup pairs to find")
  }

  it("x8 banding (rows=4) candidate set grows sub-quadratically") {
    def cands(sf: String): (Long, Long) = {
      val docs = T.documents(spark, s"/root/testdata/$sf")
      (docs.count(),
        TextOps.minhashCandidates(docs, k = 32, bands = 8).count())
    }
    val (n1, c1) = cands("sf0.01")
    val (n2, c2) = cands("sf0.1")
    info(s"banded candidates: n=$n1 -> $c1 pairs, n=$n2 -> $c2 pairs " +
      f"(growth ${c2.toDouble / math.max(c1, 1)}%.1fx vs quadratic " +
      f"${math.pow(n2.toDouble / n1, 2)}%.0fx)")
    val growth = c2.toDouble / math.max(c1, 1)
    val quadratic = math.pow(n2.toDouble / n1, 2)
    assert(growth < quadratic / 2,
      f"candidate growth $growth%.1fx is not sub-quadratic ($quadratic%.0fx)")
  }

  it("x9 fingerprint equals the hand-computed char fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the same expression the x9 query builds, over controlled input
    val df = Seq((1L, "abc"), (2L, ""), (3L, "a b")).toDF("doc_id", "text")
    def fold(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 257 + c.toLong) % 1000000007L)
    val expr9 = aggregate(
      transform(filter(split(col("text"), ""), c => c =!= ""),
        c => ascii(c).cast("long")),
      lit(0L),
      (acc, c) => pmod(acc * lit(257L) + c, lit(1000000007L)))
    val rows = df.select(col("doc_id"), expr9.as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> fold("abc"), 2L -> fold(""), 3L -> fold("a b")))
  }

  it("x14 repetition ratio is 1 - distinct/total and stays in [0,1)") {
    val rows = graft.SparkEntry.queries("x14_repetition")(
        spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, nd, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nd <= n && nd > 0)
      assert(math.abs(ratio - (1.0 - nd.toDouble / n)) < 1e-6)
      assert(ratio >= 0 && ratio < 1)
    }
  }

  it("connectedComponents merges transitively and labels by min id") {
    import spark.implicits._
    // chain 1-2-3 (1~3 never pair directly), separate pair 10-11, and a
    // long path 20..26 (diameter 6 — exercises >1 propagation round),
    // plus a cross-link making 26~20 redundant
    val edges = Seq(
      (2L, 1L), (2L, 3L),
      (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L),
      (25L, 26L), (26L, 20L)).toDF("doc_a", "doc_b")
    val got = TextOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L) ++
      (20L to 26L).map(_ -> 20L).toMap
    assert(got == want)
  }

  it("connectedComponents of an empty edge list is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(TextOps.connectedComponents(empty).count() == 0)
  }

  it("connectedComponents driver and distributed paths produce identical labels") {
    import spark.implicits._
    // the chain/path fixture from above, plus the REAL x6 edge set —
    // driverMaxEdges = 0 forces the distributed pointer-jumping loop
    val fixtures = Seq(
      Seq((2L, 1L), (2L, 3L), (10L, 11L),
        (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L), (24L, 25L),
        (25L, 26L), (26L, 20L)).toDF("doc_a", "doc_b"),
      TextOps.cachedVerifiedPairs(spark, "/root/testdata/sf0.001",
        k = 16, bands = 4, threshold = 0.5).select("doc_a", "doc_b"))
    fixtures.foreach { edges =>
      val viaDriver = TextOps.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val viaLoop = TextOps.connectedComponents(edges, driverMaxEdges = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaDriver == viaLoop)
      assert(viaDriver.nonEmpty)
    }
  }

  it("x15 top bigrams are count-descending and exercised") {
    val rows = graft.SparkEntry.queries("x15_top_bigrams")(
        spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getLong(1))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    assert(counts.head > 1, "top bigram should repeat in the corpus")
    rows.foreach(r => assert(r.getString(0).split(" ").length == 2))
  }

  it("x21 cross-entropy is positive and counts bigrams = tokens - 1") {
    val sf = "/root/testdata/sf0.001"
    val xent = graft.SparkEntry.queries("x21_lm_xent")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ntok = graft.SparkEntry.queries("x2_token_count")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(xent.keySet == ntok.keySet.filter(ntok(_) >= 2))
    xent.foreach { case (id, (nbg, x)) =>
      assert(nbg == ntok(id) - 1, s"doc $id: $nbg bigrams, ${ntok(id)} tokens")
      assert(x > 0 && !x.isInfinite, s"doc $id: xent=$x")
      // add-one smoothing bounds every bigram logprob by ln(vocab+max cu)
      assert(x < 20, s"doc $id: implausible xent=$x")
    }
  }

  it("x22 shard assignment equals a driver-side replay of the running sum") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("x22_token_pack")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // output arrives sorted (source, doc_id); replay the greedy pack
    var prevSource = ""
    var cum = 0L
    rows.foreach { case (source, docId, nt, shard) =>
      if (source != prevSource) { prevSource = source; cum = 0L }
      assert(shard == cum / 4096,
        s"doc $docId in $source: shard=$shard, expected ${cum / 4096}")
      cum += nt
    }
    assert(rows.map(_._1).distinct.length > 1, "needs multiple sources")
  }

  it("x23 dup-span counts equal a driver-side replay over raw spans") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("x23_dup_spans")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val nDocs = T.documents(spark, sf).count()
    assert(rows.size == nDocs, "every doc must be scored")
    rows.foreach { case (id, (n, nd, frac)) =>
      assert(n > 0 && nd <= n, s"doc $id: $nd of $n")
      assert(math.abs(frac - nd.toDouble / n) < 1e-6)
    }
    // replay on raw strings (no hashing): per-doc distinct 10-word
    // spans, duplicated = held by >= 2 docs
    val spans = T.documents(spark, sf).collect().map { r =>
      val ts = r.getAs[String]("text").trim.split("\\s+")
      val sp = if (ts.length < 10) Set(ts.mkString(" "))
        else ts.sliding(10).map(_.mkString(" ")).toSet
      r.getAs[Long]("doc_id") -> sp
    }
    val byCount = spans.flatMap(_._2).groupBy(identity).view
      .mapValues(_.length).toMap
    spans.foreach { case (id, sp) =>
      val nd = sp.count(byCount(_) >= 2).toLong
      assert((rows(id)._1, rows(id)._2) == ((sp.size.toLong, nd)),
        s"doc $id: got ${rows(id)}, replay ($nd of ${sp.size})")
    }
    assert(spans.exists { case (id, _) => rows(id)._2 > 0 },
      "corpus should contain duplicated spans (near-dup clones)")
  }

  it("x24 plants then redacts exactly one email and one phone per doc") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("x24_pii_scrub")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == 1, s"doc ${r.getLong(0)}: n_email=${r.getInt(1)}")
      assert(r.getInt(2) == 1, s"doc ${r.getLong(0)}: n_phone=${r.getInt(2)}")
      assert(r.getString(3).matches("[0-9a-f]{32}"))
    }
    // the digest is of the REDACTED text: two docs with identical text
    // but different doc_ids still scrub to different digests only via
    // the planted suffix — redaction itself must remove the raw values
    import org.apache.spark.sql.functions._
    val raw = T.documents(spark, sf).select(
      md5(concat(col("text"), lit(" contact uid"), col("doc_id"),
        lit("@mail.example or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .as("m")).collect().map(_.getString(0)).toSet
    rows.foreach(r => assert(!raw.contains(r.getString(3)),
      "scrubbed digest equals unscrubbed digest — redaction did not fire"))
  }

  it("x25 per-source quantiles are ordered and within observed range") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("x25_quality_quantiles")(spark, sf)
      .collect()
    assert(rows.length > 1, "needs multiple sources")
    import org.apache.spark.sql.functions._
    val (lo, hi) = {
      val r = T.documents(spark, sf)
        .select(size(split(trim(col("text")), "\\s+")).as("nt"))
        .agg(min("nt"), max("nt")).head
      (r.getInt(0).toDouble, r.getInt(1).toDouble)
    }
    rows.foreach { r =>
      val (p10, p50, p90) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(p10 <= p50 && p50 <= p90, s"${r.getString(0)}: $p10 $p50 $p90")
      assert(p10 >= lo && p90 <= hi)
    }
    // the scale path: approx_percentile at 1e-4 error lands within one
    // token of exact on every source (plan shape identical)
    val approx = T.documents(spark, sf)
      .select(col("source"), size(split(trim(col("text")), "\\s+")).as("nt"))
      .groupBy("source")
      .agg(expr("approx_percentile(nt, array(0.1D, 0.5D, 0.9D), 10000)")
        .as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    rows.foreach { r =>
      val q = approx(r.getString(0))
      assert(math.abs(q(1) - r.getDouble(3)) <= 1.0,
        s"${r.getString(0)}: approx p50 ${q(1)} vs exact ${r.getDouble(3)}")
    }
  }

  it("x26 semantic components cover the x11 pairs with min-id labels") {
    val sf = "/root/testdata/sf0.001"
    val comp = graft.SparkEntry.queries("x26_semantic_components")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(comp.nonEmpty, "no semantic near-dup pairs at this threshold")
    val label = comp.map(c => c._1 -> c._2).toMap
    // keep flag marks exactly the canonical (minimum) member
    comp.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.map(_._1).min == lbl,
        s"component $lbl is not labeled by its min member")
      assert(members.count(_._3 == 1) == 1 &&
        members.find(_._3 == 1).get._1 == lbl)
    }
    // both endpoints of every x11 pair land in the same component
    val pairs = graft.SparkEntry.queries("x11_embed_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across components")
    }
  }

  it("x27 oov rate isolates the sub-1%-mass tail of the vocabulary") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("x27_oov_rate")(spark, sf).collect()
    val nDocs = T.documents(spark, sf).count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val (n, nOov, rate) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nOov <= n)
      assert(math.abs(rate - nOov.toDouble / n) < 1e-6)
    }
    // cross-check against a driver-side replay of the 1%-mass rule
    import org.apache.spark.sql.functions._
    val freq = T.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = freq.map(_._2).sum
    val oovWords = freq.filter(_._2 * 100 < total).map(_._1).toSet
    val expectOov = T.documents(spark, sf)
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("t"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, ts) => id -> ts.count(r => oovWords(r.getString(1))).toLong }
    rows.foreach(r => assert(r.getLong(2) == expectOov(r.getLong(0)),
      s"doc ${r.getLong(0)}: n_oov ${r.getLong(2)} != ${expectOov(r.getLong(0))}"))
  }

  it("bucket cap keeps boilerplate-skewed LSH banding sub-quadratic") {
    // adversarial fixture (the SCALE.md hazard): 20% of the corpus is
    // ONE identical boilerplate doc — all 60 copies land in the same
    // (band, hash) bucket in every band, so uncapped all-pairs fans out
    // O(m²) while the capped chain stays O(m)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val boiler = "this site uses cookies please accept our cookie " +
      "policy terms of service privacy statement all rights reserved"
    val docs = (0 until 300).map { i =>
      if (i < 60) (i.toLong, boiler)
      else (i.toLong, s"unique document $i talks about topic${i * 7} " +
        s"and subject${i * 13} with detail${i * 29} plus extra${i * 31} " +
        s"filler${i * 37} words${i * 41} here${i * 43}")
    }.toDF("doc_id", "text")
    val hashed = TextOps.hashedShingles(docs)
    val quad = 60L * 59 / 2 // all-pairs within the boilerplate bucket
    val uncapped = TextOps.minhashCandidatesFrom(hashed, k = 16, bands = 4,
      maxBucket = Int.MaxValue).count()
    assert(uncapped >= quad,
      s"fixture broken: uncapped candidates $uncapped < quadratic $quad")
    val capped = TextOps.minhashCandidatesFrom(hashed, k = 16, bands = 4,
      maxBucket = 16).count()
    // sub-quadratic: chain = m-1 pairs per band, distinct-folded; allow
    // headroom for organic unique-doc collisions but stay far below m²/2
    assert(capped < quad / 4,
      s"capped candidates $capped did not de-quadratify (uncapped $uncapped)")
    assert(capped >= 59, s"chain must keep the bucket connected: $capped")
    // connectivity is preserved: the 60 boilerplate docs still form ONE
    // dup component from the capped candidate set (keep-one semantics
    // identical to all-pairs; only the pair inventory shrinks)
    val comp = TextOps.connectedComponents(
        TextOps.minhashCandidatesFrom(hashed, k = 16, bands = 4,
          maxBucket = 16))
      .filter(col("doc_id") < 60)
    assert(comp.select("component").distinct().count() == 1,
      "boilerplate docs split into multiple components under the cap")
  }

  it("semantic-pair bucket cap stays sub-quadratic with identical " +
      "components on a dominant embedding cluster") {
    // Embedding twin of the banding cap spec (the x26 hazard measured
    // on the x100 blow-up): 300 of 1200 vectors share one dominant
    // direction with tiny jitter — they sit on the same side of every
    // hyperplane, so the whole cluster lands in ONE sign bucket at any
    // nBits and uncapped all-pairs fans out O(m²).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = graft.operators.SimilarityOps.EmbeddingDim
    val n = 1200
    val nDup = 300
    def jitter(id: Long, i: Int): Float =
      (((id * 31 + i * 7) % 97) / 97000.0).toFloat
    val rows = (0L until n.toLong).map { id =>
      val e =
        if (id < nDup) Array.tabulate(dim)(i =>
          (if (i == 0) 1.0f else 0.0f) + jitter(id, i))
        else Array.tabulate(dim)(i =>
          (((id * 104729 + i * 7919) % 2001) / 1000.0 - 1.0).toFloat)
      (id, e)
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val nBits = SimilarityOps.scaledLshBits(n)
    val e = SimilarityOps.bucketedFrame(emb, nBits, Seq(42L), dim).cache()
    val maxBucket = e.groupBy("bucket").count().agg(max("count"))
      .head().getLong(0)
    assert(maxBucket >= nDup,
      s"fixture failed to produce a dominant bucket (max=$maxBucket)")
    // cap like production: far above organic occupancy (4x the 64
    // target), so ONLY the pathological cluster bucket crosses it
    val cap = 256
    val second = e.groupBy("bucket").count().orderBy(col("count").desc)
      .collect().map(_.getLong(1)).drop(1).headOption.getOrElse(0L)
    assert(second <= cap,
      s"fixture broken: an organic bucket ($second) also exceeds the cap")
    val quad = nDup.toLong * (nDup - 1) / 2
    val uncapped = TextOps.semanticPairs(e, 0.25, maxBucket = Int.MaxValue)
    val nUncapped = uncapped.count()
    assert(nUncapped >= quad,
      "fixture broken: uncapped pairs below the quadratic volume")
    val capped = TextOps.semanticPairs(e, 0.25, maxBucket = cap)
    val nCapped = capped.count()
    // organic (<= cap) buckets contribute identically to both sides, so
    // the delta is exactly the dominant bucket's O(m²) all-pairs volume
    // dropping to its O(m) chain
    assert(nCapped <= nUncapped - quad + maxBucket,
      s"cap did not de-quadratify the dominant bucket " +
        s"($nCapped vs $nUncapped uncapped, quad $quad)")
    // the hazard population's labels are IDENTICAL, not just connected:
    // every chain link inside the near-parallel cluster clears the
    // cosine gate, so keep-one canonicalization is unchanged by the cap
    def labels(p: org.apache.spark.sql.DataFrame) =
      TextOps.connectedComponents(p).filter(col("doc_id") < nDup)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = labels(capped)
    val b = labels(uncapped)
    assert(a == b, "capped cluster labels differ from all-pairs labels")
    assert(a.values.toSet == Set(0L),
      "cluster did not resolve to one component labeled by its minimum")
  }

  it("x30_bloom_decontam equals x17 + keep-threshold exactly " +
      "(bloom prefilter leaks no false positives into the output)") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val viaExact = graft.SparkEntry.queries("x17_contamination")(spark, sf)
      .filter(col("contamination") < 0.5)
    val viaBloom = graft.SparkEntry.queries("x30_bloom_decontam")(spark, sf)
    assert(viaBloom.columns.toSeq == viaExact.columns.toSeq)
    assert(viaBloom.count() > 0, "decontamination kept nothing")
    assert(viaBloom.except(viaExact).count() == 0 &&
      viaExact.except(viaBloom).count() == 0,
      "bloom-prefiltered decontamination diverged from the exact pass")
  }

  it("x32 keeps the longest member per x16 component (ties to min doc_id)") {
    val sf = "/root/testdata/sf0.001"
    val comp = graft.SparkEntry.queries("x16_dup_components")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nchars = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = comp.groupBy(_._2).map { case (c, members) =>
      val ids = members.map(_._1)
      val keep = ids.minBy(id => (-nchars(id), id))
      val total = ids.map(nchars).sum
      c -> (keep, ids.length.toLong, total,
        BigDecimal(1.0 - nchars(keep).toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = graft.SparkEntry.queries("x32_canonical_docs")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (c, e) => assert(got(c) == e, s"component $c") }
    // every component collapses at least one doc, so savings > 0
    assert(got.nonEmpty && got.values.forall(_._4 > 0))
  }

  it("x33 pagerank matches a driver power iteration on the same graph") {
    val sf = "/root/testdata/sf0.001"
    val edges = graft.SparkEntry.queries("x6_minhash_dedup")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bi = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val deg = bi.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = deg.keySet.toSeq.sorted
    val n = nodes.size
    def rnd(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var r = nodes.map(_ -> rnd(1.0 / n)).toMap
    for (_ <- 1 to 10) {
      val contrib = bi.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => r(u) / deg(u) }.sum).toMap
      r = nodes.map(u =>
        u -> rnd(0.15 / n + 0.85 * contrib.getOrElse(u, 0.0))).toMap
    }
    val got = graft.SparkEntry.queries("x33_pagerank")(spark, sf)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(got.keySet == r.keySet)
    // per-iteration rounding is shared; tolerance only covers the brute
    // force's own summation order
    r.foreach { case (u, v) =>
      assert(math.abs(got(u) - v) < 1e-5, s"node $u: ${got(u)} vs $v") }
    // a conservation sanity: total rank stays ~1 on this all-connected set
    assert(math.abs(got.values.sum - 1.0) < 1e-3)
  }

  it("x34 HLL estimate tracks the exact distinct within sketch error") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("x34_hll_distinct")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // exact column = a driver count of distinct whitespace tokens
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exact = docs.groupBy(_._1).view.mapValues(
      _.flatMap(_._2.trim.split("\\s+")).distinct.length.toLong).toMap
    rows.foreach { case (src, nExact, nHll) =>
      assert(nExact == exact(src), s"$src exact")
      // m = 256 registers: standard error 1.04/sqrt(256) = 6.5%; allow 4σ
      assert(nHll > 0 && math.abs(nHll - nExact) / nExact < 0.26,
        s"$src: hll $nHll vs exact $nExact")
    }
  }

  it("x34's per-shard register fixture merges to the global registers " +
      "bit-for-bit, and the merge absorbs shard replays") {
    // the 100 TB contract behind cachedHllRegisters (VERDICT r13 ask
    // #5): per-ingest-shard register frames merged by max(rmax) must
    // equal the registers of one global pass — max is associative,
    // commutative, AND idempotent, so shard order, shard count, and
    // at-least-once shard replays all collapse to the same sketch
    val sf = "/root/testdata/sf0.001"
    val sharded = TextOps.cachedHllRegisters(spark, sf)
    assert(sharded.select("shard").distinct().count() > 1,
      "fixture must actually hold multiple shards")
    val merged = sharded.groupBy("source", "bkt")
      .agg(max("rmax").as("rmax"))
    // global single-pass registers, computed independently of the fixture
    val global = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tk"))
      .select(col("source"),
        graft.functions.PolyHash64.polyhash64(col("tk")).as("h"))
      .select(col("source"), expr("shiftrightunsigned(h, 56)").as("bkt"),
        (col("h").bitwiseAND(lit((1L << 56) - 1))).as("x"))
      .select(col("source"), col("bkt"),
        when(col("x") === 0, lit(57L))
          .otherwise(lit(56L) - floor(log2(col("x")))).as("rho"))
      .groupBy("source", "bkt").agg(max("rho").as("rmax"))
    assert(merged.count() > 0)
    assert(merged.except(global).count() == 0 &&
      global.except(merged).count() == 0,
      "shard-merged registers must equal the global single-pass registers")
    // replay absorption: duplicating every shard frame changes nothing
    val replayed = sharded.unionAll(sharded)
      .groupBy("source", "bkt").agg(max("rmax").as("rmax"))
    assert(replayed.except(merged).count() == 0 &&
      merged.except(replayed).count() == 0)
  }

  it("exactOrderStats keeps a NULL-key group, as DuckDB's PARTITION BY") {
    import spark.implicits._
    val df = Seq[(Option[String], Double)](
      (Some("a"), 4.0), (Some("a"), 1.0), (Some("a"), 3.0), (Some("a"), 2.0),
      (None, 30.0), (None, 10.0), (None, 20.0)).toDF("key", "v")
    val got = TextOps.exactOrderStats(df, "key",
        Seq(("50", 0.5), ("100", 1.0)))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    assert(got == Map(Some("a") -> (2.0, 4.0), None -> (20.0, 30.0)))
  }
}
