package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AsofJoin, IntervalJoin, SaltedJoin, TopK}

/** One `ids[]` entry of a location. */
case class MatcherId(id: String, namespace: String, relationship: String)

/** A location in the shape `SourceMatcher.attachSourcesFull` reads. */
case class MatcherLocation(provenance: String, native_id: String,
    ids: Seq[MatcherId], endpoint_id: String, source_name: String,
    publisher: String, raw_type: String, best_doi: String,
    landing_page_url: String, pdf_url: String)

/** A source-registry row in the shape `SourceMatcher` reads. */
case class MatcherSource(id: Option[Long], display_name: String,
    issns: Seq[String], datacite_ids: Seq[String], is_oa: Option[Boolean],
    merge_into_id: Option[Long], `type`: String, publisher: String)

/** An incoming authorship and a registry candidate for `AuthorMatcher`. */
case class MatcherAuthorship(work_id: Long, author_seq: Int,
    block_key: String, orcid: String, institution_ids: Seq[String],
    source_id: String, raw_name: String)
case class MatcherCandidate(author_id: Option[Long], block_key: String,
    orcid: String, institution_ids: Seq[String], source_ids: Seq[String])

/** Seeded randomized parity for the round-14 scale operators: each
  * operator's Spark plan is driven with generated inputs (random keys,
  * score ties, duplicate rows, empty sides, zero-length and negative
  * intervals) and compared against an independent NAIVE formulation
  * computed driver-side in plain Scala — beyond the fixed fixtures of
  * OperatorsSpec. Seeds are pinned: failures reproduce. */
class RandomizedParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rng(seed: Long) = new scala.util.Random(seed)

  test("asofJoin: random keys/timestamps (with cross-side ts " +
    "collisions and matchless keys) equal the per-row naive scan") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val r = rng(seed)
      // small ts domain forces equal-instant left/right collisions
      val left = Seq.fill(300)((r.nextInt(8).toLong,
        r.nextInt(40).toLong, r.nextLong(1000000)))
      val rights = Seq.fill(120)((r.nextInt(10).toLong,
        r.nextInt(40).toLong, r.nextDouble()))
        .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq // unique (key, ts)
      val out = AsofJoin.asofJoin(
        left.toDF("k", "lts", "lid"),
        rights.toDF("k", "rts", "v"), Seq("k"), "lts", "rts")
        .select(col("k"), col("lts"), col("lid"), col("asof.v"))
        .as[(Long, Long, Long, Option[Double])].collect().toSet
      val expected = left.map { case (k, lts, lid) =>
        val m = rights.filter(t => t._1 == k && t._2 <= lts)
          .sortBy(_._2).lastOption
        (k, lts, lid, m.map(_._3))
      }.toSet
      assert(out == expected, s"seed=$seed")
    }
  }

  test("overlapJoin: random intervals (zero-length, negative, " +
    "spanning many buckets) equal the naive filter for every width") {
    for (seed <- Seq(21L, 22L)) {
      val r = rng(seed)
      def iv() = {
        val s = r.nextInt(400) - 200L
        // mix: points (zero-length), short, and long intervals
        val len = r.nextInt(3) match {
          case 0 => 0L
          case 1 => r.nextInt(10).toLong
          case _ => r.nextInt(150).toLong
        }
        (s, s + len)
      }
      val left = Seq.tabulate(120) { i => val (s, e) = iv()
        (r.nextInt(5).toLong, i.toLong, s, e) } // unique lids
      val right = Seq.tabulate(120) { i => val (s, e) = iv()
        (r.nextInt(5).toLong, 1000L + i, s, e) } // unique rids
      val expected = (for {
        (lk, lid, ls, le) <- left
        (rk, rid, rs, re) <- right
        if lk == rk && ls <= re && rs <= le
      } yield (lid, rid, math.min(le, re) - math.max(ls, rs))).toSet
      for (w <- Seq(1L, 7L, 64L, 1000L)) {
        val out = IntervalJoin.overlapJoin(
          left.toDF("k", "lid", "ls", "le"),
          right.toDF("k", "rid", "rs", "re"),
          Seq("k"), "ls", "le", "rs", "re", w)
          .select(col("lid"), col("rid"), col("overlap_len"))
          .as[(Long, Long, Long)].collect()
        assert(out.length == expected.size, s"seed=$seed w=$w: dup/missing")
        assert(out.toSet == expected, s"seed=$seed w=$w")
      }
    }
  }

  test("SaltedJoin: random skew with DUPLICATE rows and empty match " +
    "sets equals the plain inner join (multiplicities included)") {
    for (seed <- Seq(31L, 32L)) {
      val r = rng(seed)
      // 70% of rows on one hot key; ~half the rows byte-identical dups
      val big = Seq.fill(400) {
        val k = if (r.nextInt(10) < 7) 1L else r.nextInt(20).toLong
        (k, if (r.nextBoolean()) 0L else r.nextInt(50).toLong)
      }
      val small = Seq.fill(12)((r.nextInt(25).toLong, r.nextInt(5)))
      val plain = big.flatMap { case (k, p) =>
        small.filter(_._1 == k).map(s => (k, p, s._2)) }
        .groupBy(identity).view.mapValues(_.size).toMap
      for (salts <- Seq(1, 3, 8)) {
        val out = SaltedJoin.inner(big.toDF("k", "payload"),
          small.toDF("k", "s"), Seq("k"), salts)
          .as[(Long, Long, Int)].collect()
          .groupBy(identity).view.mapValues(_.length).toMap
        assert(out == plain, s"seed=$seed salts=$salts")
      }
    }
  }

  test("TopK (pairs + payload rows): random heavy-tied scores equal " +
    "the window election for k below, at, and above group sizes") {
    for (seed <- Seq(41L, 42L)) {
      val r = rng(seed)
      // tiny score domain => massive ties; single-digit ids so string
      // collation == numeric order (the rows variant compares exactly)
      val d = Seq.fill(500)((r.nextInt(12).toLong, r.nextInt(4).toLong,
        r.nextInt(9).toLong))
      val df = d.toDF("g", "score", "id")
      for (k <- Seq(1, 5, 100)) {
        val expected = d.groupBy(_._1).flatMap { case (g, rows) =>
          rows.sortBy(t => (-t._2, t._3)).take(k).zipWithIndex
            .map { case ((_, s, id), i) => (g, (i + 1).toLong, s, id) }
        }.toSet
        val agg = df.groupBy(col("g"))
          .agg(TopK.topK(k)(col("score"), col("id")).as("tk"))
          .select(col("g"), posexplode(col("tk")))
          .select(col("g"), (col("pos") + 1).as("rank"),
            col("col.score"), col("col.id"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(agg == expected, s"seed=$seed k=$k pairs")
        val rowsAgg = df.groupBy(col("g"))
          .agg(TopK.topKRows(k)(col("score"),
            col("id").cast("string"), lit(null)).as("tk"))
          .select(col("g"), posexplode(col("tk")))
          .select(col("g"), (col("pos") + 1).as("rank"),
            col("col.score"), col("col.id").cast("long"))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(rowsAgg == expected, s"seed=$seed k=$k rows-variant")
      }
    }
  }

  test("quantizedTopK: random code vectors with a TINY code domain " +
    "(mass distance ties) equal the naive per-query scan election") {
    import graft.operators.Similarity
    for (seed <- Seq(51L, 52L)) {
      val r = rng(seed)
      // dim 4 over codes {0,1,2} => many exactly-equal squared-L2
      // distances; ties must break on the neighbor id ascending
      val vecs = Seq.tabulate(60)(i =>
        (i.toLong, Seq.fill(4)(r.nextInt(3))))
      val df = vecs.toDF("vec_id", "codes")
      for (k <- Seq(1, 3, 70)) {
        val out = Similarity.quantizedTopK(df, "vec_id", "codes",
          col("vec_id") < 5, k)
          .as[(Long, Int, Long, Long)].collect().toSet
        val expected = (for {
          (q, qc) <- vecs.filter(_._1 < 5)
        } yield {
          val scored = vecs.filter(_._1 != q).map { case (c, cc) =>
            val d = qc.zip(cc).map { case (a, b) =>
              (a - b).toLong * (a - b) }.sum
            (c, d)
          }
          scored.sortBy(t => (t._2, t._1)).take(k).zipWithIndex
            .map { case ((c, d), i) => (q, i + 1, c, d) }
        }).flatten.toSet
        assert(out == expected, s"seed=$seed k=$k")
      }
    }
  }

  test("bloomSeenFlags: random corpora at aggressive FPP equal the " +
    "plain text-equality scan — the filter is pruning, never truth") {
    import graft.operators.Dedup
    for (seed <- Seq(71L, 72L)) {
      val r = rng(seed)
      // tiny vocab so the batch has real corpus collisions; fpp 0.5
      // forces MANY Bloom false positives through the verify stage
      def txt() = Seq.fill(3)("tok" + r.nextInt(40)).mkString(" ")
      val corpus = Seq.tabulate(300)(i => (i.toLong, txt()))
      val batch = Seq.tabulate(120)(i => (1000L + i,
        if (r.nextBoolean()) corpus(r.nextInt(300))._2 else txt()))
      val corpusTexts = corpus.map(_._2).toSet
      val expected = batch.map { case (id, t) =>
        (id, corpusTexts.contains(t)) }.toSet
      val out = Dedup.bloomSeenFlags(corpus.toDF("doc_id", "text"),
          batch.toDF("doc_id", "text"), "doc_id", "text", 0.5)
        .select(col("doc_id"), col("is_seen"))
        .as[(Long, Boolean)].collect().toSet
      assert(out == expected, s"seed=$seed")
      // the single-pass production build: filter sized from an
      // EXPLICIT metadata count (no corpus count() pass) — and an
      // UNDERSIZED count (worse realized FPP) still yields the exact
      // anti-join answer, because hits are verified verbatim
      for (expectedItems <- Seq(300L, 7L)) {
        val bf = Dedup.corpusBloom(corpus.toDF("doc_id", "text"),
          "text", 0.5, expectedItems)
        val outExplicit = Dedup.bloomSeenFlags(
            corpus.toDF("doc_id", "text"),
            batch.toDF("doc_id", "text"), "doc_id", "text", bf)
          .select(col("doc_id"), col("is_seen"))
          .as[(Long, Boolean)].collect().toSet
        assert(outExplicit == expected,
          s"seed=$seed expectedItems=$expectedItems")
      }
    }
  }

  test("topKDouble: random double scores with planted EXACT ties " +
    "equal the (score DESC, id ASC) window election") {
    for (seed <- Seq(61L, 62L)) {
      val r = rng(seed)
      // draw from 6 distinct doubles so exact ties are common
      val pool = Seq.fill(6)(r.nextDouble() * 2 - 1)
      val d = Seq.fill(400)((r.nextInt(10).toLong,
        pool(r.nextInt(pool.size)), r.nextInt(50).toLong))
      val df = d.toDF("g", "score", "id")
      for (k <- Seq(1, 4, 500)) {
        val expected = d.groupBy(_._1).flatMap { case (g, rows) =>
          rows.sortBy(t => (-t._2, t._3)).take(k).zipWithIndex
            .map { case ((_, s, id), i) => (g, (i + 1).toLong, s, id) }
        }.toSet
        val agg = df.groupBy(col("g"))
          .agg(TopK.topKDouble(k)(col("score"), col("id")).as("tk"))
          .select(col("g"), posexplode(col("tk")))
          .select(col("g"), (col("pos") + 1).as("rank"),
            col("col.score"), col("col.id"))
          .as[(Long, Long, Double, Long)].collect().toSet
        assert(agg == expected, s"seed=$seed k=$k")
      }
    }
  }

  // ── single-lineage matchers vs their branch-and-union / sequential
  // spec (SequentialMatchers) ──

  /** Rows as a multiset, `ids` left out: the datacite branch keeps an
    * arbitrary one of a native_id's tied rows, which differ only there. */
  private def bag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.drop("ids").collect().toSeq.map(_.toSeq).groupBy(identity)
      .view.mapValues(_.size).toMap

  private def pick[A](r: scala.util.Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def maybe[A](r: scala.util.Random, nullOneIn: Int)(a: => A): A =
    if (r.nextInt(nullOneIn) == 0) null.asInstanceOf[A] else a

  private val names = Seq("Alpha", "Beta", "Gamma", "Delta", "Epsilon",
    "Zeta", "Eta", "Theta")

  private def sourceFrames(r: scala.util.Random) = {
    val sources = Seq.tabulate(24) { i =>
      MatcherSource(if (i == 23) None else Some(100L + i),
        maybe(r, 8)(pick(r, names)),
        Seq.fill(r.nextInt(3))("is-" + r.nextInt(8)),
        maybe(r, 2)(Seq.fill(1 + r.nextInt(2))("dc-" + r.nextInt(5))),
        if (r.nextInt(6) == 0) None else Some(r.nextBoolean()),
        if (r.nextInt(8) == 0) Some(200L + i) else None,
        if (i % 4 == 1) "ebook platform" else "journal",
        "Pub " + r.nextInt(6))
    }
    val e2s = Seq.fill(10)(("ep-" + r.nextInt(5), 100L + r.nextInt(24)))
    val provenances = Seq(null, "crossref", "landing_page", "mag", "repo",
      "repo_backfill", "datacite", "pubmed")
    val locations = Seq.fill(90) {
      val nid = "n" + r.nextInt(20)
      val prov = pick(r, provenances)
      val ids = maybe(r, 8)(Seq.fill(r.nextInt(4)) {
        pick(r, Seq("eissn", "pissn", "lissn", "issn", "datacite_client",
          "doi")) match {
          case "datacite_client" => MatcherId("dc-" + r.nextInt(6),
            "datacite_client", pick(r, Seq("self", null, "References")))
          case "doi" => MatcherId("10.1/" + r.nextInt(9), "doi", "self")
          case ns => MatcherId("is-" + r.nextInt(9), ns,
            pick(r, Seq("self", null, "References", "IsVersionOf")))
        }
      })
      // a datacite native_id keeps one of its rows: give its rows the
      // same payload, so the kept row is determined up to `ids`
      val payload = if (prov == "datacite") new scala.util.Random(nid.hashCode) else r
      MatcherLocation(prov, nid, ids,
        maybe(payload, 3)("ep-" + payload.nextInt(6)),
        maybe(payload, 3)(pick(payload, names :+ "biorxiv")),
        maybe(payload, 2)("Pub " + payload.nextInt(6)),
        maybe(payload, 2)(pick(payload, Seq("book", "journal-article"))),
        maybe(payload, 2)(pick(payload, Seq("10.2139/ssrn.1", "10.5/x"))),
        maybe(payload, 2)(pick(payload, Seq("https://osti.gov/1", "https://a.org/2"))),
        null)
    }
    (locations.toDF(), sources.toDF(), e2s.toDF("endpoint_id", "source_id"))
  }

  test("SourceMatcher: the single-lineage tiers equal the branch-and-union " +
    "spec on random locations (null provenance, shared datacite " +
    "native_ids, PubMed and repo rows, ISSN namespace and id ties)") {
    import graft.resolve.SourceMatcher
    val excluded = Seq(103L, 107L)
    for (seed <- Seq(81L, 82L, 83L)) {
      val (locations, sources, e2s) = sourceFrames(rng(seed))
      val provs = locations.select("provenance").as[String].collect()
      assert(provs.contains(null) && provs.contains("pubmed") &&
        provs.contains("repo") && provs.contains("repo_backfill"))
      assert(locations.filter(col("provenance") === "datacite")
        .groupBy("native_id").count().filter(col("count") > 1).count() > 0,
        s"seed=$seed: no datacite native_id shared")
      val program = SourceMatcher.attachPrimary(locations, sources, e2s, excluded)
      val spec = SequentialMatchers.attachPrimary(locations, sources, e2s, excluded)
      assert(program.columns.toSeq == spec.columns.toSeq)
      assert(bag(program) == bag(spec), s"seed=$seed attachPrimary")
      assert(program.filter(col("provenance").isNull).count() == 0)
      assert(program.filter(col("provenance").isin("crossref", "mag") &&
        col("source_id").isNotNull).count() > 0, s"seed=$seed: no ISSN match")

      // the full cascade: the same post-primary passes on both sides
      val specFull = {
        val named = SequentialMatchers.displayNameFallback(spec, sources)
        val ctas = named.withColumn("source_id", SourceMatcher.manualFallback(named))
        SourceMatcher.normalizedDisplayNameFill(SourceMatcher.ebookPublisherFill(
          SourceMatcher.withNormalizedColumns(ctas), sources), sources)
      }
      val full = SourceMatcher.attachSourcesFull(locations, sources, e2s, excluded)
      assert(full.columns.toSeq == specFull.columns.toSeq)
      assert(bag(full) == bag(specFull), s"seed=$seed attachSourcesFull")
    }
  }

  test("SourceMatcher.displayNameFallback: the conditional join equals the " +
    "matched/unmatched split, incl. is_oa_source set by the fallback and " +
    "kept on matched rows") {
    import graft.resolve.SourceMatcher
    for (seed <- Seq(91L, 92L)) {
      val r = rng(seed)
      val (_, sources, _) = sourceFrames(r)
      val attached = Seq.fill(60)((
        "n" + r.nextInt(40), maybe(r, 4)(pick(r, names)),
        if (r.nextBoolean()) Some(100L + r.nextInt(24)) else None,
        if (r.nextInt(3) == 0) None else Some(r.nextBoolean())))
        .toDF("native_id", "source_name", "source_id", "is_oa_source")
      val program = SourceMatcher.displayNameFallback(attached, sources)
      val spec = SequentialMatchers.displayNameFallback(attached, sources)
      assert(program.columns.toSeq == spec.columns.toSeq)
      assert(bag(program) == bag(spec), s"seed=$seed")
      // the fallback fills some unmatched rows, is_oa_source with them
      assert(program.join(attached.filter(col("source_id").isNull)
          .select("native_id", "source_name").distinct(),
          Seq("native_id", "source_name"))
        .filter(col("source_id").isNotNull && col("is_oa_source").isNotNull)
        .count() > 0, s"seed=$seed: fallback never matched")
    }
  }

  private def authorFrames(r: scala.util.Random, blocks: Seq[String]) = {
    val incoming = (0L until 12L).flatMap { w =>
      (0 until r.nextInt(6)).map { seq =>
        MatcherAuthorship(w, seq, maybe(r, 10)("b" + r.nextInt(6)),
          maybe(r, 2)("o" + r.nextInt(8)),
          maybe(r, 10)(Seq.fill(r.nextInt(3))("i" + r.nextInt(5))),
          maybe(r, 10)("s" + r.nextInt(4)), s"name $w/$seq")
      }
    }
    val base = Seq.tabulate(25) { i =>
      MatcherCandidate(if (r.nextInt(10) == 0) None else Some(100L + i),
        maybe(r, 12)(pick(r, blocks)), maybe(r, 2)("o" + r.nextInt(8)),
        Seq.fill(r.nextInt(3))("i" + r.nextInt(5)),
        Seq.fill(r.nextInt(3))("s" + r.nextInt(4)))
    }
    // duplicate candidate rows OR-fold their signals per author
    val candidates = base ++ base.take(4).map(c =>
      c.copy(institution_ids = Seq("i" + r.nextInt(5))))
    (incoming.toDF(), candidates.toDF())
  }

  test("AuthorMatcher: the single-pass cascade equals the sequential " +
    "anti-join spec on random authorships (duplicate ORCIDs in a work, " +
    "null block keys, null-id candidates, an all-unmatched remainder)") {
    import graft.authors.AuthorMatcher
    val tiers = scala.collection.mutable.Set.empty[String]
    val cases = Seq(101L, 102L, 103L, 104L).map(s =>
      (s, authorFrames(rng(s), (0 until 6).map("b" + _)))) ++ Seq(
      // no candidate shares a block key or an ORCID: everything mints
      (105L, {
        val (inc, cand) = authorFrames(rng(105L), Seq("z0", "z1"))
        (inc, cand.withColumn("orcid", lit(null).cast("string")))
      }),
      // a stamped ORCID twice in one work; an ORCID whose only
      // candidate has no id (matches, with a null author_id); keys seen
      // through two locations, decided by ORCID (work 3) and by a tier
      // (work 4)
      (106L, (Seq(
        MatcherAuthorship(1L, 0, "b0", "oX", Seq("i1"), "s1", "a"),
        MatcherAuthorship(1L, 1, "b0", "oX", Seq("i2"), "s1", "b"),
        MatcherAuthorship(1L, 2, null, "oN", null, null, "c"),
        MatcherAuthorship(2L, 0, "b0", "oX", Seq("i3"), "s2", "d"),
        MatcherAuthorship(3L, 0, "b0", "oX", Seq("i1"), "s1", "e"),
        MatcherAuthorship(3L, 0, "b0", null, Seq(), "s1", "e"),
        MatcherAuthorship(4L, 0, "b1", null, Seq("i1"), "s1", "f"),
        MatcherAuthorship(4L, 0, "b1", null, Seq("i9"), "s1", "f")).toDF(),
        Seq(MatcherCandidate(Some(7L), "b0", "oX", Seq("i1"), Seq("s1")),
          MatcherCandidate(None, "b0", "oN", Seq("i2"), Seq("s1")),
          MatcherCandidate(Some(8L), "b0", null, Seq("i2"), Seq("s2")),
          MatcherCandidate(Some(9L), "b1", null, Seq("i1"), Seq("s1")),
          MatcherCandidate(Some(10L), "b1", null, Seq("i2"), Seq("s1")))
          .toDF())))
    var dupOrcid, nullBlock, nullCandidate = false
    for ((seed, (incoming, candidates)) <- cases) {
      val program = AuthorMatcher.matchAuthors(incoming, candidates)
      val spec = SequentialMatchers.matchAuthors(incoming, candidates)
      assert(program.columns.toSeq == spec.columns.toSeq)
      assert(program.schema == spec.schema, s"seed=$seed schema")
      assert(bag(program) == bag(spec), s"seed=$seed")
      tiers ++= program.select("match_tier").as[String].collect()
        .filter(_ != null)
      if (seed == 105L) assert(program.filter(col("match_tier") =!= "minted" ||
        col("match_tier").isNull).filter(col("block_key").isNotNull).count() == 0)
      if (seed == 106L) {
        assert(program.filter(col("match_tier") === "orcid")
          .select("work_id", "author_seq", "author_id").as[(Long, Int, Option[Long])]
          .collect().toSet == Set((1L, 2, None), (2L, 0, Some(7L)), (3L, 0, Some(7L))))
        assert(program.filter(col("work_id") === 4L)
          .select("author_id", "match_tier").as[(Long, String)].collect().toSeq ==
          Seq((9L, "name_institution"), (9L, "name_institution")))
      }
      dupOrcid ||= incoming.filter(col("orcid").isNotNull)
        .groupBy("work_id", "orcid").count().filter(col("count") > 1).count() > 0
      nullBlock ||= incoming.filter(col("block_key").isNull).count() > 0
      nullCandidate ||= candidates.filter(col("author_id").isNull).count() > 0
    }
    assert(dupOrcid && nullBlock && nullCandidate)
    // a repeated key left to the mint keeps one output row per incoming
    // row (the sequential spec emits one minted row per incoming row of
    // the key, and its final join then doubles them)
    val twice = Seq.fill(2)(MatcherAuthorship(5L, 0, "b5", null, Seq(), "s1", "g"))
      .toDF()
    val mintedTwice = AuthorMatcher.matchAuthors(twice,
      authorFrames(rng(101L), Seq("b0"))._2)
    assert(mintedTwice.filter(col("match_tier") === "minted").count() == 2)
    assert(tiers == Set("orcid", "name_institution", "name_source",
      "name_unique", "minted"), tiers.toString)
  }
}
