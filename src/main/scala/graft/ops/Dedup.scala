package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star EXT,
  * SURVEY.md J8): exact, MinHash+LSH, SimHash, exact n-gram Jaccard.
  *
  * Scale design notes (100 TB posture):
  *  - exact dedup shuffles once on a 64-bit content hash, never on the text;
  *  - MinHash signatures are computed per-row with higher-order functions
  *    (zero shuffle), only band buckets shuffle — the classic
  *    shingle→minhash→band pipeline with candidate verification;
  *  - pathological buckets (boilerplate shingles) are capped: a bucket with
  *    more than `maxBucketSize` docs is DROPPED from candidate generation —
  *    at web scale such buckets are near-identical spam whose pairs explode
  *    quadratically. The drop is observable: run [[oversizedMinhashBuckets]]
  *    with the same parameters to audit what the cap excluded.
  */
object Dedup {

  /** Whitespace-normalized lowercase text — the canonical form all
    * text-dedup operators hash. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  // ------------------------------------------------------------- exact
  /** Exact dedup: keep the minimum `idCol` per normalized-content group.
    * Equivalent plan to groupBy(xxhash64) but keyed on the hash so 100 TB of
    * text never shuffles — only (hash, id) pairs do. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val h = xxhash64(normalized(col(textCol)))
    docs.select(h.as("__h"), col(idCol))
      .groupBy(col("__h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .drop("__h")
  }

  // ------------------------------------------------------------- shingles
  /** Word n-gram shingle array (distinct). Documents shorter than n words
    * shingle to their whole normalized text. Row-local formulation for
    * array-level use (jaccard kernels); the bulk pipelines use
    * [[shingleRows]] — the interpreted lambda here re-evaluates its
    * captured subtrees per element, which is quadratic-ish on long docs. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(normalized(text), " ")
    val grams = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      // try_element_at: a doc with < n tokens yields nulls past the end,
      // which concat_ws skips (ANSI element_at would throw)
      i => concat_ws(" ", (0 until n).map(j => try_element_at(toks, i + j + 1)): _*))
    array_distinct(grams)
  }

  /** One (id, shingle) row per word n-gram — the bulk/scale formulation:
    * posexplode evaluates the normalization once per document, the n-gram
    * assembly is a codegen'd window `lead` over token position (one shuffle
    * of short token rows). Duplicates are NOT removed — min-hashing is
    * multiset-invariant; set consumers aggregate with collect_set. */
  def shingleRows(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", n: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id").orderBy("pos")
    docs
      .select(col(idCol).as("id"),
        posexplode(split(normalized(col(textCol)), " ")).as(Seq("pos", "t")))
      .select(col("id"), col("pos"),
        concat_ws(" ", (col("t") +: (1 until n).map(j => lead(col("t"), j).over(w))): _*).as("sh"),
        lead(col("t"), n - 1).over(w).isNotNull.as("__full"))
      // full n-grams, plus the pos-0 partial for docs shorter than n words
      .filter(col("__full") || col("pos") === 0)
      .select(col("id"), col("sh"))
  }

  /** Exact Jaccard similarity of two shingle arrays — the GENERIC form
    * (hash-set intersect/union), safe for arrays of any order/origin,
    * e.g. signature-store arrays persisted before the sorted-set era. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Exact Jaccard for SORTED distinct long arrays ([[hashedShingleSets]]
    * output, sorted at build): one allocation-free merge pass per pair,
    * |∪| = |a| + |b| − |∩| — replaces TWO hash-set builds per candidate
    * in verify stages running millions of pairs. Use only on frames whose
    * sortedness is guaranteed by construction in THIS plan (persisted
    * arrays from older stores may predate the sort contract). */
  def jaccardSorted(a: Column, b: Column): Column = {
    val inter = graft.functions.SortedIntersectCount(a, b).cast("double")
    val union = (size(a) + size(b)).cast("double") - inter
    when(union === 0, 0.0).otherwise(inter / union)
  }

  // ------------------------------------------------------------- minhash
  /** k-lane MinHash signature per doc via explode + partial-aggregated
    * min()s. Each shingle string is hashed once; the k lanes re-mix that
    * long with `xxhash64(h, lane)` — a handful of codegen'd integer ops,
    * overflow-free under ANSI. (Higher-order array lambdas are interpreted
    * in Spark, so the row-local formulation is ~10× slower at scale.) */
  /** (id, h1, h2) rows — one base-hash pair per shingle occurrence. */
  private def hashedShingleRows(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    shingleRows(docs, textCol, idCol)
      .select(col("id"), xxhash64(col("sh")).as("h1"), xxhash64(col("sh"), lit(1)).as("h2"))

  /** Kirsch-Mitzenmacher-style lane derivation: lane_i = h1 ^ rot(h2, i).
    * Two string hashes + 4 bitwise ops per lane instead of k string
    * hashes — overflow-free (ANSI) and ~3x cheaper in the hot aggregate.
    * Single definition shared by signatures / pairs / bucket audit so the
    * three can never drift apart. */
  private def laneAggs(k: Int): Seq[Column] = {
    def lane(i: Int): Column =
      if (i == 0) col("h1")
      else col("h1").bitwiseXOR(
        shiftleft(col("h2"), i).bitwiseOR(shiftrightunsigned(col("h2"), 64 - i)))
    (0 until k).map(i => min(lane(i)).as(s"mh_$i"))
  }

  def minhashSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 64): DataFrame = {
    val lanes = laneAggs(k)
    hashedShingleRows(docs, textCol, idCol)
      .groupBy(col("id")).agg(lanes.head, lanes.tail: _*)
  }

  // ---- JVM signature kernels (zero-shuffle) --------------------------
  // Signatures are row-local: every shuffle before the band-bucket exchange
  // is avoidable. The expression formulations above shuffle all shingle/token
  // rows into a 64-column aggregate (plus a window sort for n-gram assembly);
  // these kernels compute the same bytes per document inside mapPartitions,
  // so the ONLY shuffle left in the LSH pipelines is (id, band, bh) — a few
  // fixed-width bytes per doc. At 100 TB that is the difference between
  // shuffling the corpus and shuffling ~1% of it. Hash parity with the
  // expression paths (Spark's own XXH64) is pinned by DedupKernelParitySpec.

  /** Spark-parity xxhash64 of a string column value (seed 42). */
  private[ops] def xxStr(s: String, seed: Long = 42L): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  private val md5Tl = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** DuckDB-parity `md5_number_lower`: MD5 digest bytes 8..15 read
    * little-endian. A cross-engine-verifiable 64-bit token hash — slower
    * than xxhash64, so it's an opt-in (`tokenHash = "md5"`) for pipelines
    * that need an external engine to reproduce signatures bit-for-bit. */
  private[ops] def md5Low64(s: String): Long = {
    val md = md5Tl.get(); md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 15
    while (i >= 8) { v = (v << 8) | (d(i) & 0xffL); i -= 1 }
    v
  }

  /** JVM replica of [[normalized]]: trim SPACES only (Spark's trim), lower,
    * collapse whitespace — same Java regex engine as regexp_replace. */
  private[ops] def normalizedJvm(text: String): String = {
    var st = 0; var en = text.length
    while (st < en && text.charAt(st) == ' ') st += 1
    while (en > st && text.charAt(en - 1) == ' ') en -= 1
    text.substring(st, en).toLowerCase(java.util.Locale.ROOT)
      .replaceAll("\\s+", " ")
  }

  /** JVM replica of the [[shingleRows]] multiset: full n-grams, plus the
    * single partial gram for docs shorter than n tokens. */
  private[ops] def shinglesJvm(text: String, n: Int = 3): Iterator[String] = {
    val toks = normalizedJvm(text).split(" ", -1)
    if (toks.length < n) Iterator(toks.mkString(" "))
    else (0 to toks.length - n).iterator.map { i =>
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      sb.toString
    }
  }

  // ---- shingle-hash families -----------------------------------------
  // The signature cost of the LSH pipelines is per-shingle hashing: the
  // default "string" family materializes every word n-gram as a String
  // (StringBuilder alloc + copy) and xxhash64s its ~20-40 bytes — each
  // input byte is hashed n times across the n windows it belongs to. The
  // "rolling" family hashes each TOKEN once (xxhash64) and combines the n
  // token hashes per window with GramHashes' Rabin–Karp roll (odd-B
  // polynomial mod 2⁶⁴, fmix64-finalized): O(1) per window, zero per-
  // shingle allocation — the round-7 verdict's task #1 for the q60/q117
  // 100× signature tail. Same ~2⁻⁶⁴ pair-collision class (fmix64 is
  // bijective, so collisions are exactly the roll's difference-polynomial
  // class over xx64 token hashes). The family changes signature BITS, so
  // LSH candidates can differ within the usual banding probability; exact-
  // Jaccard verification is family-invariant (distinct windows ↦ distinct
  // hashes in both). Selected per-session via conf
  // `graft.dedup.shingleHash` ("string" | "rolling"); the family is part
  // of any persisted signature-store format (streaming ingest, cross-
  // corpus stores) — pick it once per store. DedupShingleFamilySpec pins
  // pair/cluster parity between families on the oracle fixture.

  /** Stream one document's hashed shingle multiset into `f` under the
    * selected family — foreach-shaped (Function1[Long, Unit] is
    * @specialized) so the hot signature loop never boxes a hash.
    * "string" = xxhash64 over each materialized n-gram (bit-parity with
    * the expression path); "rolling" = per-token xxhash64 + O(1) window
    * roll. Documents shorter than n tokens yield ONE partial-gram hash
    * (matching [[shinglesJvm]]'s whole-text fallback). */
  private[ops] def foreachShingleHash(text: String, n: Int,
      family: String)(f: Long => Unit): Unit = family match {
    case "string" => shinglesJvm(text, n).foreach(sh => f(xxStr(sh)))
    case "rolling" =>
      import graft.functions.GramHashes.{B, fmix64}
      val toks = normalizedJvm(text).split(" ", -1)
      val m = toks.length
      val th = new Array[Long](m)
      var i = 0
      while (i < m) { th(i) = xxStr(toks(i)); i += 1 }
      if (m < n) {
        var h = 0L; var j = 0
        while (j < m) { h = h * B + th(j); j += 1 }
        f(fmix64(h))
      } else {
        var bl = 1L // B^(n-1), rolls the leading token hash out
        var j = 0
        while (j < n - 1) { bl *= B; j += 1 }
        var h = 0L
        j = 0
        while (j < n) { h = h * B + th(j); j += 1 }
        f(fmix64(h))
        var p = 1
        while (p <= m - n) {
          h = (h - th(p - 1) * bl) * B + th(p + n - 1)
          f(fmix64(h))
          p += 1
        }
      }
    case other => throw new IllegalArgumentException(
      s"unknown graft.dedup.shingleHash family: $other (string | rolling)")
  }

  /** Session-selected shingle-hash family (validated eagerly on the
    * driver so a typo fails at plan build, not mid-task). */
  private def shingleFamily(docs: DataFrame): String = {
    val f = docs.sparkSession.conf.get("graft.dedup.shingleHash", "string")
    require(f == "string" || f == "rolling",
      s"unknown graft.dedup.shingleHash family: $f (string | rolling)")
    f
  }

  private def kernelRows(docs: DataFrame, textCol: String, idCol: String,
      outFields: Seq[org.apache.spark.sql.types.StructField])(
      perDoc: (Any, String) => Iterator[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val in = docs.select(col(idCol), col(textCol))
    val idField = in.schema.fields.head.copy(name = "id")
    val schema = StructType(idField +: outFields)
    in.mapPartitions { it =>
      it.flatMap { r =>
        if (r.isNullAt(1) || r.isNullAt(0)) Iterator.empty
        else perDoc(r.get(0), r.getString(1))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** (id, band, bh) rows straight off the parquet scan — the exact input of
    * the LSH bucket exchange, computed with zero shuffle. Same lanes as
    * [[laneAggs]], same band hash as the expression path. */
  def minhashBandRows(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 64, bands: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    val r = k / bands
    require(bands * r == k, "bands must divide k")
    val family = shingleFamily(docs)
    kernelRows(docs, textCol, idCol,
      Seq(StructField("band", IntegerType, false), StructField("bh", LongType, false))) {
      (id, text) =>
        val mins = Array.fill(k)(Long.MaxValue)
        foreachShingleHash(text, 3, family) { h1 =>
          // xxhash64(sh, 1): the string hash seeds the INT 1 (lit(1) is int)
          val h2 = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(1, h1)
          mins(0) = math.min(mins(0), h1)
          var i = 1
          while (i < k) {
            val lane = h1 ^ ((h2 << i) | (h2 >>> (64 - i)))
            if (lane < mins(i)) mins(i) = lane
            i += 1
          }
        }
        (0 until bands).iterator.map { b =>
          var bh = 42L
          var j = 0
          while (j < r) {
            bh = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(mins(b * r + j), bh)
            j += 1
          }
          org.apache.spark.sql.Row(id, b, bh)
        }
    }
  }

  /** (id, sh: array<long>) — each doc's DISTINCT hashed shingle set in one
    * narrow pass (replaces window + collect_set for the verification side). */
  def hashedShingleSets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField}
    val family = shingleFamily(docs)
    kernelRows(docs, textCol, idCol,
      Seq(StructField("sh", ArrayType(LongType, false), false))) { (id, text) =>
      val set = new java.util.HashSet[Long]()
      foreachShingleHash(text, 3, family)(set.add(_))
      val arr = new Array[Long](set.size)
      val it = set.iterator(); var i = 0
      while (it.hasNext) { arr(i) = it.next(); i += 1 }
      // sorted-ascending contract: every consumer is order-invariant
      // (intersect/size/explode/min-lanes), and sorting once at build lets
      // verify stages use the allocation-free merge intersect
      // ([[graft.functions.SortedIntersectCount]]) instead of a hash-set
      // build per candidate pair
      java.util.Arrays.sort(arr)
      Iterator.single(org.apache.spark.sql.Row(id, arr.toSeq))
    }
  }

  /** [[minhashBandRows]] computed from PRE-BUILT distinct shingle sets
    * ([[hashedShingleSets]] output) instead of raw text: the min of each
    * hash lane over a doc's distinct set equals the min over its full
    * multiset (min is duplicate-blind), so the (band, bh) bits are
    * IDENTICAL to the text path's — with zero tokenize/shingle-hash work
    * here. The q68 fusion seam (round-11): one materialized gram frame
    * feeds LSH banding, exact verification, and decontamination, where
    * each stage used to re-run the shingle kernel over its own text
    * scan. */
  def minhashBandRowsFromSets(shs: DataFrame, k: Int = 64,
      bands: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
      StructType}
    val r = k / bands
    require(bands * r == k, "bands must divide k")
    val in = shs.select(col("id"), col("sh"))
    val idField = in.schema.fields.head.copy(name = "id")
    val schema = StructType(idField +:
      Seq(StructField("band", IntegerType, false),
        StructField("bh", LongType, false)))
    in.mapPartitions { it =>
      it.flatMap { row =>
        if (row.isNullAt(0) || row.isNullAt(1)) Iterator.empty
        else {
          val id = row.get(0)
          val sh = row.getSeq[Long](1)
          val mins = Array.fill(k)(Long.MaxValue)
          sh.foreach { h1 =>
            val h2 = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashInt(1, h1)
            mins(0) = math.min(mins(0), h1)
            var i = 1
            while (i < k) {
              val lane = h1 ^ ((h2 << i) | (h2 >>> (64 - i)))
              if (lane < mins(i)) mins(i) = lane
              i += 1
            }
          }
          (0 until bands).iterator.map { b =>
            var bh = 42L
            var j = 0
            while (j < r) {
              bh = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashLong(mins(b * r + j), bh)
              j += 1
            }
            org.apache.spark.sql.Row(id, b, bh)
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** (id, sim) 64-bit SimHash per doc, zero-shuffle (same bits as
    * [[simhashSignatures]] for the default `tokenHash = "xx64"`;
    * `"md5"` = DuckDB-reproducible [[md5Low64]] token hashes). */
  def simhashSignaturesKernel(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", tokenHash: String = "xx64"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val hashFn: String => Long = tokenHash match {
      case "xx64" => xxStr(_, 42L)
      case "md5"  => md5Low64 _
      case other  => throw new IllegalArgumentException(s"unknown tokenHash: $other")
    }
    kernelRows(docs, textCol, idCol,
      Seq(StructField("sim", LongType, false))) { (id, text) =>
      val counts = new Array[Int](64)
      normalizedJvm(text).split(" ", -1).foreach { t =>
        val h = hashFn(t)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
          i += 1
        }
      }
      var sim = 0L
      var i = 0
      while (i < 64) { if (counts(i) > 0) sim |= (1L << i); i += 1 }
      Iterator.single(org.apache.spark.sql.Row(id, sim))
    }
  }

  /** Audit for the candidate-generation bucket cap: (band, bucket hash,
    * member count) of every LSH bucket the rep-level pipeline would DROP
    * at these parameters — so a pipeline can report/alert on excluded
    * volume instead of silently losing the largest duplicate cluster.
    * Since `minhashDuplicatePairs` LSH-bands one representative per
    * distinct content, this audits the rep plane; pair [[oversizedCloneGroups]]
    * for the clone-group cap, which is the other drop class. */
  def oversizedMinhashBuckets(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 64, bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    minhashBandRows(docs, textCol, idCol, k, bands) // same lanes/band hash as the pairs path
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)
  }

  /** Audit for the clone-group cap in [[minhashDuplicatePairs]]: (content
    * hash, representative id, member count) of every identical-content
    * group whose members will NOT fan out into pairs at these parameters
    * (only the rep participates). Alert on this alongside
    * [[oversizedMinhashBuckets]] — together they cover everything the
    * pair pipeline drops. */
  def oversizedCloneGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxBucketSize: Int = 1000): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), xxhash64(normalized(col(textCol))).as("ch"))
      .groupBy(col("ch"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucketSize)

  /** Candidate duplicate pairs via LSH banding + exact-Jaccard verification.
    *
    * @param bands     b bands of r = k/bands rows; P(candidate) ≈
    *                  1-(1-s^r)^b — defaults catch s ≳ 0.5
    * @param threshold exact-Jaccard cutoff applied to candidates
    * @return (id_a, id_b, jaccard) with id_a < id_b, distinct
    */
  def minhashDuplicatePairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    // Content-group pre-stage: identical normalized text ⇒ identical
    // shingle set ⇒ identical jaccard against every third doc, so the
    // LSH + verification pipeline only needs one REPRESENTATIVE per
    // distinct content. Corpora re-crawl and mirror heavily (the 10×
    // bench clones every doc), making clone groups the dominant near-dup
    // mass — verifying reps cuts signature/verify work by the clone
    // factor and pair EXPANSION becomes pure output-sized joins:
    // rep-pair × member lists cross-group, plus all intra-group pairs at
    // jaccard exactly 1 (identical sets). Bit-identical to running the
    // full pipeline on every doc (null-text docs are excluded here exactly
    // as the kernel produces no rows for them); the q41 oracle
    // (brute-force all-pairs) pins that. Clone groups LARGER than
    // `maxBucketSize` get the same anti-spam treatment as oversized LSH
    // buckets: their members do not fan out — only the rep participates —
    // so a 100k-clone boilerplate blob cannot emit C(100k,2) pairs.
    val keyed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), xxhash64(normalized(col(textCol))).as("ch"))
    val groups = keyed.groupBy(col("ch"))
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("ids"))
      .localCheckpoint() // slim (hash, ids): reused by reps semi-join + both expansions
    val bounded = groups.filter(size(col("ids")) <= maxBucketSize)
    // oversized groups collapse to their rep for cross expansion (the
    // rep-level pair still surfaces; members don't fan out)
    val expandable = groups.select(col("rep"),
      when(size(col("ids")) <= maxBucketSize, col("ids"))
        .otherwise(array(col("rep"))).as("ids"))
    // all-unique corpus (the common post-applyExact shape): reps == docs —
    // skip the semi-join and both expansion joins entirely; the clone
    // check is one limit-1 scan over the checkpointed slim groups
    if (groups.filter(size(col("ids")) >= 2).limit(1).isEmpty)
      return minhashPairsOnDistinct(docs, textCol, idCol, k, bands,
        threshold, maxBucketSize)
    val reps = docs.join(groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
    val repPairs = minhashPairsOnDistinct(reps, textCol, idCol, k, bands,
      threshold, maxBucketSize)
    val members = expandable
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("ids").as("ids_a")), Seq("id_a"))
      .join(members.select(col("rep").as("id_b"), col("ids").as("ids_b")), Seq("id_b"))
      .select(explode(col("ids_a")).as("ma"), col("ids_b"), col("jaccard"))
      .select(col("ma"), explode(col("ids_b")).as("mb"), col("jaccard"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    val intra = bounded
      .filter(size(col("ids")) >= 2 && lit(1.0) >= threshold)
      .select(explode(col("ids")).as("ma"), col("ids"))
      .select(col("ma"), explode(col("ids")).as("mb"))
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("id_a"), col("mb").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** The LSH + exact-verification pipeline over content-DISTINCT docs.
    * Call this directly when the corpus is exact-deduped BY CONSTRUCTION
    * (e.g. right after [[applyExact]]) — it skips the wrapper's
    * clone-group pass entirely; [[minhashDuplicatePairs]] is the safe
    * general entry. Identical-content docs that DO slip in are simply
    * redundant LSH work, never wrong output. */
  def minhashPairsOnDistinct(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    // (id, band, bh) computed in the zero-shuffle kernel: nothing shuffles
    // before the bucket exchange — never text or shingle arrays.
    val exploded = minhashBandRows(docs, textCol, idCol, k, bands)
    // bucket → member list in ONE shuffle (a window + self-join would cost
    // a sort plus a second shuffle); cap pathological buckets, then expand
    // pairs with a double explode.
    val buckets = exploded
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
    val candidates = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      // slim (id_a, id_b) pairs consumed THREE times (both sides of the
      // candidate-id union + the verification join): materialize, or the
      // whole band/bucket subtree — including the corpus scan — re-derives
      // per consumer
      .localCheckpoint()
    // exact-Jaccard verification on HASHED shingle sets, built ONLY for
    // candidate docs: the docs plane is semi-join-pruned before re-shingling,
    // so the second pass is proportional to |candidates|, not the corpus
    // (collecting sets for every doc in the signature aggregate measured
    // slower — the buffers dominate). Long-array intersect/union is ~5×
    // cheaper than strings; xxhash64 collisions (~2^-64) are immaterial.
    val candidateIds = candidates.select(col("id_a").as("cid"))
      .union(candidates.select(col("id_b")))
      .distinct()
    val candidateDocs = docs.join(candidateIds,
      col(idCol) === col("cid"), "left_semi")
    val shs = hashedShingleSets(candidateDocs, textCol, idCol)
      .withColumnRenamed("id", "sid")
      // |candidates|-sized by the semi-join prune, and consumed by BOTH
      // sides of the verification join: materialize so the shingle kernel
      // runs once per candidate doc, not twice
      .localCheckpoint()
    candidates
      .join(shs.withColumnRenamed("sid", "id_a").withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(shs.withColumnRenamed("sid", "id_b").withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** [[minhashPairsOnDistinct]] over PRE-BUILT (and caller-materialized)
    * distinct shingle sets: banding, the bucket exchange, candidate
    * expansion, and exact verification all read the SAME gram frame —
    * the pipeline runs zero text passes. Bits identical to the text
    * path: [[minhashBandRowsFromSets]] proves the signatures, and the
    * verification Jaccard is computed on the very sets the text path
    * would have rebuilt. */
  def minhashPairsFromSets(shs: DataFrame, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val exploded = minhashBandRowsFromSets(shs, k, bands)
    val buckets = exploded
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
    val candidates = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      // slim pairs, three consumers (both candidate-id union sides + the
      // verification join) — same materialization rule as the text path
      .localCheckpoint()
    val candidateIds = candidates.select(col("id_a").as("cid"))
      .union(candidates.select(col("id_b")))
      .distinct()
    // candidate-pruned slice of the gram frame: the broadcast semi-join
    // keeps the corpus-sized arrays out of any exchange, and the slim
    // result is read by both verification sides
    val shsC = shs.join(candidateIds, col("id") === col("cid"), "left_semi")
      .withColumnRenamed("id", "sid")
      .localCheckpoint()
    candidates
      .join(shsC.withColumnRenamed("sid", "id_a")
        .withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(shsC.withColumnRenamed("sid", "id_b")
        .withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Cross-corpus near-duplicate pairs: docs in `a` whose normalized text
    * is near-duplicate (exact-verified Jaccard ≥ threshold) of a doc in
    * `b` — the corpus-vs-corpus face of [[minhashDuplicatePairs]], used
    * for train-vs-train overlap between two snapshots/crawls and as the
    * document-level big sibling of eval decontamination (which is gram-
    * level, [[contaminationHits]]).
    *
    * Same scale posture as the single-corpus path: both sides reduce to
    * (id, band, bh) in the zero-shuffle kernel, candidates come from ONE
    * bucket join on (band, bh) with per-side bucket caps (an oversized
    * boilerplate bucket on either side cannot cross-explode), and exact
    * verification re-shingles only semi-join-pruned candidate docs. Text
    * never crosses an exchange. */
  def crossCorpusPairs(a: DataFrame, b: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val ga = minhashBandRows(a, textCol, idCol, k, bands)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids_a"))
      .filter(size(col("ids_a")) <= maxBucketSize)
    val gb = minhashBandRows(b, textCol, idCol, k, bands)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids_b"))
      .filter(size(col("ids_b")) <= maxBucketSize)
    val candidates = ga.join(gb, Seq("band", "bh"))
      .select(explode(col("ids_a")).as("id_a"), col("ids_b"))
      .select(col("id_a"), explode(col("ids_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      // slim id pairs consumed three times (two semi-join prunes + the
      // verification join): materialize so BOTH band-row subtrees run once
      .localCheckpoint()
    val aDocs = a.join(candidates.select(col("id_a").as("cid")).distinct(),
      col(idCol) === col("cid"), "left_semi")
    val bDocs = b.join(candidates.select(col("id_b").as("cid")).distinct(),
      col(idCol) === col("cid"), "left_semi")
    val sa = hashedShingleSets(aDocs, textCol, idCol)
      .select(col("id").as("id_a"), col("sh").as("sh_a"))
    val sb = hashedShingleSets(bDocs, textCol, idCol)
      .select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("jaccard", jaccardSorted(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ----------------------------------------------------- decontamination
  /** Benchmark decontamination hits: corpus docs sharing at least one
    * distinct word n-gram with the benchmark/eval set → `(id, n_shared)`.
    *
    * The standard eval-leakage scan (PaLM/GPT-3 style n-gram overlap): the
    * benchmark side is tiny and fixed (eval suites, not corpus-sized), so
    * its distinct hashed grams BROADCAST; the corpus side streams through
    * the zero-shuffle shingle kernel and the only exchange is the per-doc
    * count aggregate of matched rows — the corpus is never shuffled.
    * Grams compare by xxhash64 (as q41): a false hit needs a 64-bit
    * collision against the benchmark set (~2^-64·|bench| per gram —
    * immaterial; flagged docs get human/exact review anyway). */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = hashedShingleSets(benchmark, textCol, idCol)
      .select(explode(col("sh")).as("g")).distinct()
    hashedShingleSets(corpus, textCol, idCol)
      .select(col("id"), explode(col("sh")).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[contaminationHits]] over a PRE-BUILT corpus gram frame
    * ([[hashedShingleSets]] output — the q68 fusion seam): the corpus
    * side explodes the materialized sets instead of re-running the
    * shingle kernel over a text scan; the (tiny, fixed) benchmark side
    * still builds its grams from text. Identical hits: the text path's
    * corpus grams ARE these sets. */
  def contaminationHitsFromSets(corpusSh: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val benchGrams = hashedShingleSets(benchmark, textCol, idCol)
      .select(explode(col("sh")).as("g")).distinct()
    corpusSh
      .select(col("id"), explode(col("sh")).as("g"))
      .join(broadcast(benchGrams), "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Per-doc n-gram NOVELTY: what fraction of a doc's distinct word-3-
    * grams appear nowhere else in the corpus? The self-corpus dual of
    * [[contaminationHits]] — low novelty flags boilerplate/template docs
    * (every gram shared) for curation downmixing; high novelty marks
    * genuinely fresh text worth upweighting.
    *
    * Scale shape: TWO passes of the zero-shuffle shingle kernel over the
    * text (document-frequency needs global gram counts, and materializing
    * the exploded gram rows would cost more than re-scanning — hashes are
    * 8 bytes/gram, comparable to the corpus itself), with only (id, hash)
    * pairs crossing the one doc-frequency exchange. Grams compare by
    * xxhash64 (the [[contaminationHits]] collision argument).
    *
    * @return (id, n_grams, n_unique, novelty_x6) — novelty_x6 =
    *         floor(1e6·n_unique/n_grams), integer-exact */
  def ngramNovelty(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    def grams = hashedShingleSets(docs, textCol, idCol)
      .select(col("id"), explode(col("sh")).as("g"))
    val docFreq = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    grams.join(docFreq, Seq("g"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty_x6",
        expr("(n_unique * CAST(1000000 AS BIGINT)) div n_grams"))
  }

  // ------------------------------------------------------------- apply
  /** Deduplicated corpus by exact content: keep one doc (min id) per
    * normalized-content group — the operational form of [[exact]]. */
  def applyExact(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.join(exact(docs, textCol, idCol).select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Apply near-duplicate pairs to a corpus: drop the higher id of every
    * pair (greedy canonical-keep — standard near-dedup practice; use
    * [[connectedComponents]] + keep-min-per-component when exact cluster
    * canonicalization is required). */
  def applyPairsDedup(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Near-dup resolution keeping the BEST member per cluster: real
    * pipelines keep the highest-quality copy of duplicated content, not
    * the smallest id ([[applyPairsDedup]]'s greedy convention). Clusters
    * come from [[dedupClusters]] (exact connected components, so chained
    * near-dups collapse to ONE survivor); the winner is
    * argmax(quality, tie → min id); docs in no cluster pass through.
    *
    * `quality` must be integer-valued (quantize floats upstream —
    * floor(q*1e6) — so the argmax is deterministic and cross-engine
    * exact). Scale: the argmax is one `max_by` aggregate over the slim
    * (id, component, quality) frame; the corpus is touched only by the
    * cluster labeling itself and two semi/anti joins on ids. */
  def keepBestPerCluster(docs: DataFrame, quality: Column,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 64,
      bands: Int = 16, threshold: Double = 0.8,
      maxBucketSize: Int = 1000): DataFrame = {
    // both slim frames fan out twice below: (id, component) feeds the
    // argmax join AND the pass-through anti-join; (id, quality) feeds the
    // argmax AND supplies the id universe for pass-through. Materialize so
    // the cluster machinery and the quality scan each run once — the only
    // corpus scan left in the final plan is the surviving-rows semi-join.
    val clusters = dedupClusters(docs, textCol, idCol, k, bands,
      threshold, maxBucketSize).localCheckpoint()
    val scored = docs.select(col(idCol).as("id"), quality.cast("long").as("__q"))
      .localCheckpoint()
    val best = clusters.join(scored, Seq("id"))
      .groupBy(col("component"))
      .agg(max_by(col("id"), struct(col("__q"), (-col("id")).as("nid"))).as("keep"))
      .select(col("keep").as(idCol))
    val untouched = scored.select(col("id").as(idCol))
      .join(clusters.select(col("id").as(idCol)), Seq(idCol), "left_anti")
    docs.join(best.unionByName(untouched), Seq(idCol), "left_semi")
  }

  /** Fused dedup-cluster labeling: exactly
    * `connectedComponents(minhashDuplicatePairs(docs))`, WITHOUT
    * materializing the clone-expanded pair set. Clone members connect
    * only through their content (identical sets), so components are
    * solved on the REP graph and labels fan back through the slim
    * (id, rep) table: a rep IS its group's min id, so the min-reachable
    * rep id equals the min-reachable doc id. A 30-clone corpus emits
    * C(30,2) pairs per content in the pair API; here those cliques cost
    * one row per MEMBER. Oversized clone groups (> maxBucketSize) get the
    * pair pipeline's cap semantics: members don't fan out, reps still
    * participate.
    *
    * @return (id, component) for every id the pair set would contain
    */
  def dedupClusters(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucketSize: Int = 1000): DataFrame = {
    val keyed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), xxhash64(normalized(col(textCol))).as("ch"))
    val groups = keyed.groupBy(col("ch"))
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("ids"))
      .localCheckpoint()
    val reps = docs.join(groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
    val repPairs = minhashPairsOnDistinct(reps, textCol, idCol, k, bands,
      threshold, maxBucketSize).localCheckpoint()
    val repCC = connectedComponents(repPairs)
    // groups whose members appear in the pair set: intra edges (m ≥ 2,
    // within cap, jaccard 1 ≥ threshold) or rep present in a rep pair
    val paired = repPairs.select(col("id_a").as("rep"))
      .union(repPairs.select(col("id_b"))).distinct()
    val intraEligible = groups
      .filter(size(col("ids")).between(2, maxBucketSize) && lit(1.0) >= threshold)
    val eligible = intraEligible.unionByName(
        groups.join(paired, Seq("rep"), "left_semi"))
      .dropDuplicates("ch")
    // oversized groups: only the rep itself appears (cap semantics)
    val members = eligible
      .select(col("rep"),
        when(size(col("ids")) <= maxBucketSize, col("ids"))
          .otherwise(array(col("rep"))).as("ids"))
      .select(col("rep"), explode(col("ids")).as("id"))
    members
      .join(repCC.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("id"), coalesce(col("component"), col("rep")).as("component"))
  }

  /** Connected components over a duplicate-pair edge set by iterative
    * min-label propagation: every node ends labeled with the minimum id
    * reachable from it — the canonical cluster id for exact dedup-cluster
    * canonicalization (greedy pair-drop can over-delete when clusters
    * chain: a~b, b~c drops both b and c even if a~c is false).
    *
    * Scale shape — the adjacency-index push form (the graph-loop house
    * rule, cf. [[graft.ops.Graph.pageRank]]): ONE collect_set exchange
    * builds the V-row index (id, nbrs); each round then joins two V-row
    * frames (index ⋈ labels, both hash-partitioned on id) and re-derives
    * the E candidate rows IN-TASK via explode, where the partial min
    * aggregate folds them map-side back to ≤ V rows before the exchange.
    * The previous edge-join form shuffled 2E rows per round — decisive
    * exactly where components are expensive: near-dup pair graphs are
    * CLIQUES (E ≈ d·V with d the family size), and the clique min
    * reaches every member in ONE push. Pointer jumping (adopt the label
    * OF the current label — a V-row self-join folded into the same
    * union+min exchange) keeps chain-shaped clusters at O(log diameter)
    * rounds. The loop stops at the fixpoint; `localCheckpoint` cuts each
    * round's lineage so plans don't nest exponentially (on a cluster,
    * prefer `checkpoint` with a checkpoint dir for fault tolerance).
    * Degree contract: one nbrs array per node must fit an executor row —
    * bounded by construction here (LSH pair degrees ≤ bands ×
    * maxBucketSize); pre-cap or salt-split hubs on raw web-scale graphs.
    *
    * Adaptive small-graph path: the edge set here is the LSH *survivor*
    * set — orders of magnitude smaller than the corpus — and when it fits
    * on the driver (≤ `localSolveMaxEdges`, default 2²⁰ ≈ 16 MB of longs)
    * a single collect + union-find replaces 3-6 shuffle rounds, the same
    * runtime adaptivity Spark itself applies when AQE converts a shuffle
    * join to broadcast. Distributed min-label propagation remains the path
    * for edge sets above the threshold (set it to 0 to force the loop).
    *
    * @return (id, component) for every id appearing in `pairs`
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxRounds: Int = 50,
      localSolveMaxEdges: Long = 1L << 20): DataFrame = {
    val idType = pairs.schema(pairs.schema.fieldIndex(aCol)).dataType
    val undirected = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .distinct()
      .localCheckpoint()
    val integralIds = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    if (integralIds && undirected.count() <= localSolveMaxEdges)
      return localComponents(undirected, idType)
    val edges = undirected
      .union(undirected.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val index = Graph.guardDegree(
        edges.groupBy(col("u").as("id"))
          .agg(collect_set(col("v")).as("nbrs")),
        "id", "nbrs") // graft.graph.maxDegree: fail named, never OOM
      .localCheckpoint() // re-read every round
    var labels = index.select(col("id"), col("id").as("component"))
      .localCheckpoint()
    // Convergence check without a join: propagation can only LOWER labels,
    // so Σ component is strictly decreasing until the fixpoint — one tiny
    // decimal aggregate per round (exact at any id magnitude) instead of a
    // join + filter + isEmpty pass.
    def labelSum(df: DataFrame): java.math.BigDecimal = df
      .agg(sum(col("component").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // push: every node broadcasts its label to its neighbors — a V-row
      // equi-join on id (exchange-reusable against the index partitioning),
      // with the E exploded candidates min-folded map-side in the same stage
      val viaNeighbor = index.join(labels, Seq("id"))
        .select(explode(col("nbrs")).as("id"), col("component"))
      // pointer jumping: also adopt the label OF the current label (a
      // component value is always a vertex id, so the inner self-join is
      // total). Convergence drops from O(diameter) to O(log diameter)
      // rounds — each round is one more small V-row join, but rounds are
      // the expensive unit here (a full shuffle + checkpoint barrier each).
      val viaParent = labels
        .join(labels.select(col("id").as("pid"), col("component").as("pcomp")),
          col("component") === col("pid"))
        .select(col("id"), col("pcomp").as("component"))
      val next = labels.unionByName(viaNeighbor).unionByName(viaParent)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      round += 1
    }
    labels
  }

  /** Driver-side union-find for edge sets under the adaptive threshold:
    * min-id roots (union always attaches the larger root under the
    * smaller) + path compression — every node's root IS the minimum id
    * reachable from it, identical to the fixpoint of the distributed
    * loop. Control-plane bounded by the caller's threshold check. */
  private def localComponents(undirected: DataFrame,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val spark = undirected.sparkSession
    import spark.implicits._
    val es = undirected.select(col("u").cast("long"), col("v").cast("long"))
      .as[(Long, Long)].collect()
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    es.foreach { case (u, v) =>
      parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
      val ru = find(u); val rv = find(v)
      if (ru != rv) {
        if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
      }
    }
    val out = new Array[(Long, Long)](parent.size)
    val it = parent.keySet.iterator; var i = 0
    while (it.hasNext) { val id = it.next(); out(i) = (id, find(id)); i += 1 }
    out.toSeq.toDF("id", "component")
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
  }

  // ------------------------------------------------- line-level dedup
  /** One (id, pos, line) row per fixed-width token chunk — the "line"
    * splitter for corpora without physical line breaks (swap for
    * `split(text, "\n")` + posexplode when documents carry real lines).
    * Chunking is deterministic, so the same content always yields the
    * same lines regardless of partitioning. */
  def lineRows(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", lineTokens: Int = 5): DataFrame = {
    val t = split(normalized(coalesce(col(textCol), lit(""))), " ")
    docs.select(col(idCol).as("id"), t.as("t"))
      .select(col("id"),
        explode(sequence(lit(0),
          ceil(size(col("t")) / lineTokens.toDouble).cast("int") - 1)).as("pos"),
        col("t"))
      .select(col("id"), col("pos"),
        concat_ws(" ", slice(col("t"), col("pos") * lineTokens + 1, lit(lineTokens))).as("line"))
  }

  /** Hashes of lines appearing in ≥ `minDocFreq` DISTINCT documents —
    * cross-document boilerplate (headers, footers, license banners).
    * Only (hash, id) pairs shuffle, never line text. */
  def commonLineHashes(lines: DataFrame, minDocFreq: Int): DataFrame =
    lines.select(xxhash64(col("line")).as("lh"), col("id"))
      .groupBy(col("lh"))
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocFreq)
      .select(col("lh"))

  /** Line-level (boilerplate) dedup, CCNet/RefinedWeb-style: remove from
    * every document each line whose content occurs in ≥ `minDocFreq`
    * distinct documents, preserving the surviving lines' order.
    *
    * Scale shape: pass 1 aggregates (line-hash, id) pairs — 16 bytes per
    * line, never text; the boilerplate set is small BY CONSTRUCTION
    * (≤ total_lines / minDocFreq distinct values, and real boilerplate is
    * a tiny head) → broadcast to make the strip map-side; surviving lines
    * shuffle once to reassemble documents. If the boilerplate set ever
    * outgrew broadcast, drop the hint and let AQE pick the join.
    *
    * @return (id, n_lines, n_kept, text_clean); a fully-boilerplate doc
    *         keeps 0 lines and an empty string
    */
  def stripCommonLines(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", lineTokens: Int = 5,
      minDocFreq: Int = 3): DataFrame = {
    // one tokenize+chunk pass, three consumers (df count, strip, n_lines);
    // the materialized line table is what a production pipeline persists
    // anyway (it IS the reassembly input)
    val lines = lineRows(docs, textCol, idCol, lineTokens).localCheckpoint()
    val common = commonLineHashes(lines, minDocFreq)
    val kept = lines.join(broadcast(common),
      xxhash64(col("line")) === common("lh"), "left_anti")
    val agg = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x("line"))).as("text_clean"))
    val nl = lines.groupBy(col("id")).agg(count(lit(1)).as("n_lines"))
    docs.select(col(idCol).as("id"))
      .join(nl, "id")
      .join(agg, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** EXACT similarity join via PPJoin-style PREFIX FILTERING — recall 1.0
    * BY CONSTRUCTION, unlike [[minhashDuplicatePairs]]' probabilistic LSH
    * banding: any pair with Jaccard ≥ t over their hashed-shingle sets
    * must overlap in ≥ ⌈t·|x|⌉ elements, so each set's PREFIX — its first
    * |x| − ⌈t·|x|⌉ + 1 elements in GLOBAL rarity order (corpus frequency
    * ascending, hash tie-break) — must share at least one element with
    * any qualifying partner's prefix-extended set. Candidates come from
    * one equi-join on prefix elements; exact Jaccard verifies.
    *
    * The rarity order is the scale lever: prefixes are built from the
    * RAREST grams, so candidate buckets are small by construction —
    * boilerplate grams that appear everywhere are pushed out of every
    * prefix (the frequency table is the same slim aggregate the LSH path
    * would never need; one extra pass buys exactness). Use this when a
    * missed near-dup is unacceptable (eval decontamination, compliance
    * deletion sweeps); LSH remains the cheaper open-web default.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, Jaccard ≥ threshold
    */
  def prefixFilterPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // Content-group pre-stage — the same wrapper as
    // [[minhashDuplicatePairs]], for the same reason: identical
    // normalized text ⇒ identical shingle set ⇒ identical jaccard
    // against every third doc, so the exact PPJoin only needs one
    // representative per distinct content. On heavily-mirrored corpora
    // this is THE scale lever: true near-dup pairs grow quadratically in
    // the clone factor, and without the pre-stage the candidate join and
    // verify pay that square on full shingle sets (measured: 54 s at
    // 10×, 368 s at 30× on the clone-replicated bench; the pre-stage
    // makes verify proportional to distinct contents and pair expansion
    // pure output-sized joins). Bit-identical to the direct pipeline:
    // intra-group pairs have jaccard exactly 1 ≥ any threshold.
    val keyed = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), xxhash64(normalized(col(textCol))).as("ch"))
    val groups = keyed.groupBy(col("ch"))
      .agg(min(col("id")).as("rep"), collect_list(col("id")).as("ids"))
      .localCheckpoint()
    if (groups.filter(size(col("ids")) >= 2).limit(1).isEmpty)
      return prefixFilterPairsOnDistinct(docs, textCol, idCol, threshold)
    val bounded = groups.filter(size(col("ids")) <= maxBucketSize)
    val expandable = groups.select(col("rep"),
      when(size(col("ids")) <= maxBucketSize, col("ids"))
        .otherwise(array(col("rep"))).as("ids"))
    val reps = docs.join(groups.select(col("rep").as(idCol)), Seq(idCol), "left_semi")
    val repPairs = prefixFilterPairsOnDistinct(reps, textCol, idCol, threshold)
    val cross = repPairs
      .join(expandable.select(col("rep").as("id_a"), col("ids").as("ids_a")), Seq("id_a"))
      .join(expandable.select(col("rep").as("id_b"), col("ids").as("ids_b")), Seq("id_b"))
      .select(explode(col("ids_a")).as("ma"), col("ids_b"), col("jaccard"))
      .select(col("ma"), explode(col("ids_b")).as("mb"), col("jaccard"))
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    val intra = bounded
      .filter(size(col("ids")) >= 2)
      .select(explode(col("ids")).as("ma"), col("ids"))
      .select(col("ma"), explode(col("ids")).as("mb"))
      .filter(col("ma") < col("mb"))
      .select(col("ma").as("id_a"), col("mb").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Diagnostic: the candidate-pair stage of [[prefixFilterPairsOnDistinct]]
    * alone (prefix build + bucket join + distinct), for stage timing. */
  private[graft] def prefixCandidates(docs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.5): DataFrame = {
    val sets = hashedShingleSets(docs, textCol, idCol).localCheckpoint()
    val ex = sets.select(col("id"), explode(col("sh")).as("g"))
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("f"))
    val w = Window.partitionBy(col("id")).orderBy(col("f"), col("g"))
    val prefix = ex.join(freq, Seq("g"))
      .withColumn("rk", row_number().over(w))
      .join(sets.select(col("id"), size(col("sh")).as("sz")), Seq("id"))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id"), col("g"), col("sz"))
    prefix.as("a").join(prefix.as("b"), col("a.g") === col("b.g"))
      .filter(col("a.id") < col("b.id")
        && col("a.sz") >= ceil(col("b.sz") * threshold)
        && col("b.sz") >= ceil(col("a.sz") * threshold))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** The PPJoin pipeline over content-DISTINCT docs — see
    * [[minhashPairsOnDistinct]] for the identical contract: call
    * directly only when the corpus is exact-deduped by construction;
    * [[prefixFilterPairs]] is the safe general entry. */
  def prefixFilterPairsOnDistinct(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val sets = hashedShingleSets(docs, textCol, idCol).localCheckpoint()
    val ex = sets.select(col("id"), explode(col("sh")).as("g"))
    val freq = ex.groupBy(col("g")).agg(count(lit(1)).as("f"))
    // rank within each doc by global rarity; prefix keeps the first
    // |sh| − ⌈t·|sh|⌉ + 1 — the PPJoin prefix bound
    val w = Window.partitionBy(col("id")).orderBy(col("f"), col("g"))
    val prefix = ex.join(freq, Seq("g"))
      .withColumn("rk", row_number().over(w))
      .join(sets.select(col("id"), size(col("sh")).as("sz")), Seq("id"))
      .filter(col("rk") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("id"), col("g"), col("sz"))
    // length filter (PPJoin's second prune): Jaccard ≥ t forces
    // t·|y| ≤ |x| ≤ |y|/t, so size-mismatched bucket-mates drop BEFORE
    // the distinct and the array-verify join ever see them. (The
    // positional filter was tried and reverted: on this corpus its rank
    // bookkeeping in the bucket join cost more than its ~10% prune.)
    val candidates = prefix.as("a").join(prefix.as("b"), col("a.g") === col("b.g"))
      .filter(col("a.id") < col("b.id")
        && col("a.sz") >= ceil(col("b.sz") * threshold)
        && col("b.sz") >= ceil(col("a.sz") * threshold))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // verify with ONE allocation-free merge per pair: the shingle arrays
    // are sorted-distinct by construction, so |∪| = |a| + |b| − |∩| (no
    // array_union) and the sorted-merge count replaces array_intersect's
    // per-call hash-set build — the verify stage was 3/4 of the whole
    // query at 10× once variant replicas made every candidate real
    val inter = graft.functions.SortedIntersectCount(
      col("sh_a"), col("sh_b")).cast("double")
    val unionSz = (col("sz_a") + col("sz_b")).cast("double") - inter
    candidates
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a"),
        size(col("sh")).as("sz_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b"),
        size(col("sh")).as("sz_b")), Seq("id_b"))
      .withColumn("jaccard",
        when(unionSz === 0.0d, 0.0d).otherwise(inter / unionSz))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** INTRA-document repeated-unit removal (C4-style "dedupe lines within a
    * page"): keep only the FIRST occurrence of each distinct unit inside a
    * document and reassemble the survivors in original order. `delim` is
    * the unit boundary — "\n" for real lines; corpora without line breaks
    * (like the synthetic test docs) pass " " to dedupe at token grain.
    *
    * Scale shape: units shuffle keyed by (id, unit) into a min(pos)
    * aggregate — partial-aggregated map-side, no window sort — so a giant
    * document's units spread over many tasks; only the reassembly
    * collect_list requires one document's SURVIVING units in one task,
    * which is the same bound as holding the text column at all. Compare
    * [[stripCommonLines]] (cross-document boilerplate, doc-frequency
    * driven) — this is the within-document complement.
    *
    * @return (id, n_units, n_kept, dedup_text)
    */
  def dedupeUnitsWithinDoc(docs: DataFrame, delim: String = "\n",
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val units = docs
      .select(col(idCol).as("id"),
        split(coalesce(col(textCol), lit("")),
          java.util.regex.Pattern.quote(delim)).as("us"))
      .select(col("id"), size(col("us")).as("n_units"),
        posexplode(col("us")).as(Seq("pos", "unit")))
    // first occurrence = min(pos) per (id, unit): a hash aggregate, NOT a
    // row_number window — no per-key sort, map-side combine does the bulk
    val kept = units
      .groupBy(col("id"), col("unit"))
      .agg(min(col("pos")).as("pos"), first(col("n_units")).as("n_units"))
    kept.groupBy(col("id"))
      .agg(first(col("n_units")).cast("long").as("n_units"),
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("unit")))),
          x => x("unit")), delim).as("dedup_text"))
  }

  // ------------------------------------------------------------- simhash
  /** 64-bit SimHash per doc: bit i of the output is the sign of
    * Σ_tokens (±1 by bit i of xxhash64(token)). Explode + 64 codegen'd
    * conditional sums in one partial-aggregated pass — the row-local
    * higher-order formulation re-walks the token array 64× interpreted. */
  def simhashSignatures(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val ex = docs
      .select(col(idCol).as("id"), explode(split(normalized(col(textCol)), " ")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b_$i")
    }
    val agg = ex.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 64).foldLeft(lit(0L)) { (acc, i) =>
      acc + when(col(s"b_$i") > 0, lit(1L << i)).otherwise(0L)
    }
    agg.select(col("id"), sim.as("sim"))
  }

  /** Near-dup candidate pairs by SimHash: equal band → hamming
    * verification ≤ maxHamming. Pigeonhole: a pair within hamming distance
    * d shares at least one of `bands` bands iff d < bands — so the band
    * count is derived from maxHamming (the caller's distance bound is a
    * guarantee, not a hope). */
  def simhashDuplicatePairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", maxHamming: Int = 3,
      maxBucketSize: Int = 1000, tokenHash: String = "xx64"): DataFrame = {
    // smallest divisor of 64 with bands > maxHamming (pigeonhole guarantee)
    val bands = simhashBandCount(maxHamming)
    val width = 64 / bands
    // one shuffle: bucket members collected, pathological buckets capped,
    // pairs expanded by double explode (same shape as minhash candidates —
    // narrower bands collide more, so the cap matters here even more)
    val buckets = simhashBandRows(docs, textCol, idCol, bands, width, tokenHash)
      .groupBy(col("band"), col("bh"))
      .agg(collect_list(struct(col("id"), col("sim"))).as("ms"))
      .filter(size(col("ms")).between(2, maxBucketSize))
    // Both signatures ride in the exploded pair row, so the hamming test is
    // a codegen'd FILTER that runs before the only post-bucket shuffle: the
    // cross-band dedup now sees just the true near-dup pairs, not every
    // candidate (a pre-hamming dropDuplicates measured 39 s → 4 s at 43M
    // candidates on a template-heavy corpus whose 16-bit bands collide in
    // the thousands). Dedup-after-filter keeps the cap semantics exact: a
    // pair survives if ANY of its shared bands' buckets survived the cap.
    val x = col("a.sim").bitwiseXOR(col("b.sim"))
    buckets
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id") && bit_count(x) <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(x).cast("int").as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** (id, sim, band, bh) rows — the band derivation of the simhash pairs
    * path. */
  private def simhashBandRows(docs: DataFrame, textCol: String, idCol: String,
      bands: Int, width: Int, tokenHash: String): DataFrame = {
    val mask = (1L << width) - 1
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"), shiftright(col("sim"), b * width).bitwiseAND(mask).as("bh")))
    simhashSignaturesKernel(docs, textCol, idCol, tokenHash)
      .select(col("id"), col("sim"), explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("sim"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private def simhashBandCount(maxHamming: Int): Int =
    Seq(4, 8, 16, 32).find(_ > maxHamming).getOrElse(
      throw new IllegalArgumentException(
        s"maxHamming=$maxHamming too large: LSH banding over 64 bits supports < 32"))

  /** CROSS-document duplicate SUBSTRING spans — exact substring-level
    * dedup (the "Deduplicating Training Data Makes Language Models
    * Better" sweep): for every document, the maximal character spans of
    * length ≥ `gramLen` whose every `gramLen`-char window also occurs in
    * at least `minDocs` distinct documents. Complements the whole-doc
    * ([[exact]]), near-dup ([[minhashDuplicatePairs]]) and line-grain
    * ([[stripCommonLines]]) operators at the finest grain: a unique page
    * that EMBEDS a duplicated paragraph is caught here and nowhere else.
    *
    * Shape: one pass turns text into (doc, pos, 8-byte gram hash) rows —
    * explode + substring + xxhash64, all codegen builtins, so the only
    * thing that ever crosses an exchange is 20 bytes/char-position, never
    * text. The gram stream is localCheckpoint'd because BOTH the
    * doc-frequency aggregate and the position semi-join consume it —
    * re-deriving it would re-scan and re-hash the full corpus (the q68
    * reused-subtree lesson). Overlapping duplicated windows merge into
    * maximal spans per document with a per-doc (never global) window.
    *
    * Hash grain: xxhash64 over the gram, so two DIFFERENT grams colliding
    * in 64 bits could merge spans; at 100 TB (~10^14 grams) expect ~300
    * colliding pairs corpus-wide — harmless for a scrub/audit sweep where
    * a span only widens by one window.
    *
    * @return (doc_id, span_start 0-based, span_end exclusive, span_len)
    */
  /** In-memory suffix-array duplicate-span kernel for ONE shard: build
    * the suffix array of the shard's concatenation (unique private-use
    * separator per doc, so no match crosses a boundary or survives two
    * different separators), Kasai LCP, then mark every position whose
    * `gramLen`-gram recurs — an adjacent SA pair with lcp ≥ L duplicates
    * gram-starts [a, a+lcp−L] on BOTH suffixes (difference-array union,
    * O(n)) — and merge marked positions into maximal per-doc spans.
    * This is exactly the Lee et al. 2022 "Deduplicating Training Data
    * Makes Language Models Better" exact-substring construction; the
    * covered set equals {p : gram_L(p) occurs ≥ 2 times in the shard},
    * which is what the SQL oracle recomputes relationally.
    *
    * Construction is prefix-doubling (Manber–Myers) with counting
    * sorts — O(n log n) time independent of repetition structure,
    * primitive int arrays only (~24 bytes/codepoint transient). The
    * previous comparison sort boxed the position array and paid the
    * common-prefix length per comparison, which degraded sharply on
    * exactly the near-duplicate-heavy shards this operator exists for.
    *
    * The kernel works in CODEPOINT units (positions, lengths, gram
    * windows) — the unit of DuckDB's substr/length AND Spark's
    * UTF8String — so the covered-set equivalence holds on any input
    * including supplementary characters. Codepoints in the private-use
    * range U+E000–U+EFFF (reserved as per-doc separators) are remapped
    * to U+FFFD before concatenation — they carry no gram semantics, and
    * leaving them in would let an in-doc window collide with a separator
    * position and corrupt the boundary invariant. The relational oracle
    * applies the identical remap. */
  /** Fail-fast shard-size guard for [[suffixSpansJvm]]: 2^28 codepoints
    * (~6.4 GB transient across the codepoint buffer + four int arrays)
    * — beyond it a task would stall or OOM opaquely; the fix is always
    * the `shards` knob, so say so loudly instead. */
  private[ops] val MaxShardChars: Long = 1L << 28

  /** Suffix array by prefix doubling (Manber & Myers 1990) with stable
    * counting sorts: O(n log n) time, primitive int arrays only. The
    * alphabet is Unicode CODEPOINTS (the kernel's position unit — see
    * [[suffixSpansJvm]]). Order matches full lexicographic suffix
    * comparison with "proper prefix sorts first" (absent second key
    * ranks below every present one). */
  private[ops] def buildSuffixArray(s: Array[Int]): Array[Int] = {
    val n = s.length
    val sa = new Array[Int](n)
    if (n == 0) return sa
    var rank = new Array[Int](n)
    var newRank = new Array[Int](n)
    val tmp = new Array[Int](n) // positions ordered by second key
    var maxSym = 0
    var i = 0
    while (i < n) { if (s(i) > maxSym) maxSym = s(i); i += 1 }
    val cnt = new Array[Int](math.max(n, maxSym + 1) + 2)
    // initial round: counting sort by codepoint
    i = 0
    while (i < n) { cnt(s(i) + 1) += 1; i += 1 }
    i = 1
    while (i <= maxSym + 1) { cnt(i) += cnt(i - 1); i += 1 }
    i = 0
    while (i < n) { val c = s(i); sa(cnt(c)) = i; cnt(c) += 1; i += 1 }
    rank(sa(0)) = 0
    i = 1
    while (i < n) {
      rank(sa(i)) = rank(sa(i - 1)) + (if (s(sa(i)) != s(sa(i - 1))) 1 else 0)
      i += 1
    }
    var maxRank = rank(sa(n - 1))
    var k = 1
    while (k < n && maxRank < n - 1) {
      // order by second key rank(p+k): positions with no second key
      // (p >= n-k) first, then previous sa order shifted left by k
      var p = 0
      i = n - k
      while (i < n) { tmp(p) = i; p += 1; i += 1 }
      i = 0
      while (i < n) { if (sa(i) >= k) { tmp(p) = sa(i) - k; p += 1 }; i += 1 }
      // stable counting sort of tmp by first key rank(p)
      java.util.Arrays.fill(cnt, 0, maxRank + 2, 0)
      i = 0
      while (i < n) { cnt(rank(i) + 1) += 1; i += 1 }
      i = 1
      while (i <= maxRank + 1) { cnt(i) += cnt(i - 1); i += 1 }
      i = 0
      while (i < n) {
        val pos = tmp(i); val r = rank(pos)
        sa(cnt(r)) = pos; cnt(r) += 1
        i += 1
      }
      // re-rank by the (rank, rank+k) pair
      newRank(sa(0)) = 0
      i = 1
      while (i < n) {
        val a = sa(i - 1); val b = sa(i)
        val r2a = if (a + k < n) rank(a + k) else -1
        val r2b = if (b + k < n) rank(b + k) else -1
        newRank(b) = newRank(a) +
          (if (rank(a) != rank(b) || r2a != r2b) 1 else 0)
        i += 1
      }
      val sw = rank; rank = newRank; newRank = sw
      maxRank = rank(sa(n - 1))
      k <<= 1
    }
    sa
  }

  private[ops] def suffixSpansJvm(docs: Array[(Long, String)], gramLen: Int)
      : Iterator[(Long, Long, Long, Long)] = {
    if (docs.isEmpty) return Iterator.empty
    // CODEPOINT units throughout: positions, span offsets/lengths and
    // gram windows all count Unicode codepoints — the unit both the
    // relational oracle (DuckDB substr/length) and Spark's UTF8String
    // substring/length use. A UTF-16 code-unit kernel diverges from
    // both on any supplementary character (emoji, rare CJK).
    val cps: Array[Array[Int]] = docs.map { case (_, t) =>
      val a = t.codePoints().toArray
      var i = 0
      while (i < a.length) { // U+E000–U+EFFF → U+FFFD remap (separators)
        if (a(i) >= 0xE000 && a(i) <= 0xEFFF) a(i) = 0xFFFD
        i += 1
      }
      a
    }
    val total = cps.map(_.length.toLong).sum + docs.length
    require(total <= MaxShardChars,
      s"suffixArraySpans shard holds $total codepoints (> $MaxShardChars); " +
        "raise the shards knob so corpus/shards fits a task (SCALE.md " +
        "shard-size cost model)")
    val s = new Array[Int](total.toInt)
    val docStart = new Array[Int](docs.length)
    var off = 0
    var d = 0
    while (d < docs.length) {
      docStart(d) = off
      System.arraycopy(cps(d), 0, s, off, cps(d).length)
      off += cps(d).length
      s(off) = 0xE000 + (d % 0x1000) // unique-per-adjacent sep
      off += 1
      d += 1
    }
    val n = s.length
    val sa = buildSuffixArray(s)
    val rank = new Array[Int](n)
    var k = 0
    while (k < n) { rank(sa(k)) = k; k += 1 }
    val lcp = new Array[Int](n) // lcp(r) = LCP(sa(r-1), sa(r))
    var h = 0
    var i = 0
    while (i < n) {
      if (rank(i) > 0) {
        val j = sa(rank(i) - 1)
        while (i + h < n && j + h < n && s(i + h) == s(j + h)) h += 1
        lcp(rank(i)) = h
        if (h > 0) h -= 1
      } else h = 0
      i += 1
    }
    // union of duplicated gram-start ranges via a difference array
    val diff = new Array[Int](n + 1)
    var r = 1
    while (r < n) {
      val l = lcp(r)
      if (l >= gramLen) {
        val cnt = l - gramLen + 1
        val a = sa(r); val b = sa(r - 1)
        diff(a) += 1; diff(a + cnt) -= 1
        diff(b) += 1; diff(b + cnt) -= 1
      }
      r += 1
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    var cover = 0
    d = 0
    var spanStart = -1
    var lastCovered = -1
    var p = 0
    while (p < n) {
      // doc boundary: flush the open span of the doc we just left
      if (d < docs.length - 1 && p == docStart(d + 1)) d += 1
      val atSep = d + 1 < docs.length + 1 &&
        (p == docStart(d) + cps(d).length)
      cover += diff(p)
      // clamp: a counted gram must fit inside its doc — separator chars
      // wrap every 4096 docs, so an lcp can in principle cross a sep;
      // in-doc windows are still true L-gram repeats (sep chars never
      // occur in text, so a sep-free window only matches sep-free text),
      // and the clamp drops exactly the cross-boundary artifacts
      val rel = p - docStart(d)
      val covered = cover > 0 && !atSep &&
        rel + gramLen <= cps(d).length
      if (covered) {
        if (spanStart >= 0 && rel - lastCovered <= gramLen) lastCovered = rel
        else {
          if (spanStart >= 0)
            out += ((docs(d)._1, spanStart.toLong,
              (lastCovered + gramLen).toLong,
              (lastCovered + gramLen - spanStart).toLong))
          spanStart = rel; lastCovered = rel
        }
      }
      if (atSep && spanStart >= 0) {
        out += ((docs(d)._1, spanStart.toLong,
          (lastCovered + gramLen).toLong,
          (lastCovered + gramLen - spanStart).toLong))
        spanStart = -1; lastCovered = -1
      }
      p += 1
    }
    out.iterator
  }

  /** Exact substring dedup via SAMPLED-SHARD suffix arrays — the scale
    * path for [[duplicateSpans]]' semantics, per Lee et al. 2022: docs
    * hash-shard by a content-stable md5 of their id, each shard builds
    * an in-task suffix array over its concatenation and emits maximal
    * duplicate spans (every `gramLen`-window recurring ≥ 2 times in the
    * shard, multiplicity counted — within-doc repeats included).
    *
    * Scale shape: ONE shuffle (the shard groupBy); each shard is one
    * task whose memory is shard-chars (size `shards` so corpus/shards
    * fits a task — the shard-size cost model in SCALE.md), and spans
    * come straight out of the kernel, so nothing position-grained ever
    * crosses an exchange (contrast [[duplicateSpans]], which shuffles
    * every gram hash). Recall is within-shard by construction: a span
    * duplicated ONLY across two different shards is missed — Lee et al's
    * observation is that duplicate text is heavily clustered, and
    * re-running with a different shard seed (or fewer, larger shards)
    * trades memory for recall. `shards` must be a power of two so the
    * unsigned-vs-signed md5 modulus agrees across engines.
    *
    * @return (doc_id, span_start, span_end, span_len), gram-grid maximal
    */
  def suffixArraySpans(docs: DataFrame, gramLen: Int = 30, shards: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    suffixArraySpansSalted(docs, gramLen, shards, textCol, idCol, salt = "")

  /** [[suffixArraySpans]] under a SALTED sharding — the rotation
    * primitive: `md5(salt || id) % shards` is an independent hash
    * partition for each distinct salt, so running the same kernel under
    * R salts gives R independent chances for a duplicate pair to
    * co-shard. Salt "" is exactly [[suffixArraySpans]]. */
  private def suffixArraySpansSalted(docs: DataFrame, gramLen: Int,
      shards: Int, textCol: String, idCol: String, salt: String): DataFrame = {
    require(gramLen >= 2, "need gramLen >= 2")
    require(shards >= 1 && Integer.bitCount(shards) == 1,
      "shards must be a power of two (oracle-replicable md5 sharding)")
    val spark = docs.sparkSession
    import spark.implicits._
    // doc-id contract: non-null and long-castable (the kernel emits it
    // through a non-nullable tuple encoder). try_cast + an explicit
    // raise_error so a violating id fails with THIS operator's named
    // contract error under both ANSI and legacy cast modes (ANSI cast
    // would throw its own generic error; legacy cast would silently
    // null and NPE in the encoder).
    val idL = expr(s"try_cast(`$idCol` AS BIGINT)")
    docs
      .select(
        when(idL.isNull, raise_error(concat(
            lit("suffixArraySpans requires a non-null long-castable doc " +
              s"id; got $idCol = "), coalesce(col(idCol).cast("string"),
              lit("NULL"))))).otherwise(idL).as("id"),
        coalesce(col(textCol), lit("")).as("t"),
        // shard by the CANONICAL long id (not the raw column rendering):
        // a long-castable-but-non-canonical id ("07", 7.0) must land in
        // the same shard as id 7 — the shard the oracle's
        // md5(salt || CAST(id AS VARCHAR)) computes
        pmod(graft.functions.Md5Low64(
            concat(lit(salt), idL.cast("string"))),
          lit(shards.toLong)).as("shard"))
      .as[(Long, String, Long)]
      .groupByKey(_._3)
      .flatMapGroups { (_, it) =>
        val shardDocs = it.map(r => (r._1, r._2)).toArray.sortBy(_._1)
        suffixSpansJvm(shardDocs, gramLen)
      }
      .toDF(idCol, "span_start", "span_end", "span_len")
  }

  /** AUDIT for [[suffixArraySpans]]' observable blind spot: a gram whose
    * occurrences all land in DIFFERENT shards is invisible to every
    * within-shard suffix array. One summary row, same sharding function:
    *
    *  - `n_dup_grams`: distinct `gramLen`-grams occurring ≥ 2 times
    *    corpus-wide (multiplicity — the operator's own dup criterion)
    *  - `dup_occurrences`: total positions those grams cover
    *  - `n_missed_grams` / `missed_occurrences`: the subset no single
    *    shard sees twice — the duplicate mass sharding hides
    *
    * `n_missed_grams / n_dup_grams` is the measured recall loss that Lee
    * et al.'s duplicate-clustering argument predicts is small; when it
    * is not, re-shard with fewer, larger shards (or a different seed and
    * a second pass). House style: the oversizedMinhashBuckets pattern —
    * run on a sample, read the number, then size the real job.
    *
    * Scale note: grams group by their TEXT (not a hash) so the audit is
    * exactly replayable relationally; that shuffles gramLen-char keys —
    * the price of an exact audit. Run it on the slice you intend to
    * shard, not the full corpus. Applies the same U+E000–U+EFFF → U+FFFD
    * remap as the kernel, so counts reflect what the operator matches. */
  def crossShardGramMiss(docs: DataFrame, gramLen: Int = 30,
      shards: Int = 4, textCol: String = "text", idCol: String = "doc_id")
      : DataFrame = {
    require(gramLen >= 2, "need gramLen >= 2")
    require(shards >= 1 && Integer.bitCount(shards) == 1,
      "shards must be a power of two (oracle-replicable md5 sharding)")
    val L = gramLen
    val g = docs
      .select(
        pmod(graft.functions.Md5Low64(col(idCol).cast("string")),
          lit(shards.toLong)).as("shard"),
        regexp_replace(coalesce(col(textCol), lit("")),
          lit("[\\uE000-\\uEFFF]"), lit("\uFFFD")).as("__t"))
      .filter(length(col("__t")) >= L)
      .select(col("shard"),
        explode(sequence(lit(0), length(col("__t")) - L)).as("pos"),
        col("__t"))
      .select(col("shard"), expr(s"substring(__t, pos + 1, $L)").as("gram"))
    val perGram = g.groupBy(col("gram"), col("shard"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("gram"))
      .agg(sum(col("n")).as("total"), max(col("n")).as("mx"))
      .filter(col("total") >= 2)
    perGram.agg(
      count(lit(1)).as("n_dup_grams"),
      coalesce(sum(col("total")), lit(0L)).as("dup_occurrences"),
      coalesce(sum(when(col("mx") < 2, 1L).otherwise(0L)), lit(0L))
        .as("n_missed_grams"),
      coalesce(sum(when(col("mx") < 2, col("total")).otherwise(lit(0L))),
        lit(0L)).as("missed_occurrences"))
  }

  /** Salt for rotation `r` of the rotated-sharding family: rotation 0 is
    * the UNSALTED base sharding (so rotations = 1 is bit-identical to
    * [[suffixArraySpans]]), later rotations are independent salted
    * repartitions. Shared by operator, audit, and oracle SQL. */
  def rotationSalt(r: Int): String = if (r == 0) "" else s"rot$r:"

  /** ROTATED sampled-shard suffix-array dedup — the recall repair for
    * [[suffixArraySpans]]' cross-shard blind spot that
    * [[crossShardGramMiss]] measures (91% of cross-shard duplicate-gram
    * mass invisible at 4 shards on the unclustered sf0.1 fixture).
    * Runs the SAME kernel under `rotations` independent shardings
    * (`md5(salt_r || id) % shards`), then unions the per-rotation span
    * sets: a duplicate pair missed by one sharding co-shards in another
    * with independent probability 1/shards, so miss mass decays as
    * (1 − 1/shards)^rotations for cost rotations×. The union is emitted
    * as MERGED maximal intervals — provably identical to re-running the
    * gram-grid island merge over the unioned covered-position set,
    * because every span's end is exactly (last covered gram position +
    * gramLen), so interval adjacency (start ≤ running max end) IS the
    * position-gap ≤ gramLen rule.
    *
    * Scale shape: rotations independent single-shuffle kernel passes
    * (embarrassingly parallel across rotations) plus one |spans|-sized
    * window merge — span rows are 4 longs/doc-region, never
    * position-grained, so the merge is control-plane-thin relative to
    * the corpus.
    *
    * @return (doc_id, span_start, span_end, span_len), merged maximal
    */
  def suffixArraySpansRotated(docs: DataFrame, gramLen: Int = 30,
      shards: Int = 4, rotations: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(rotations >= 1, "need rotations >= 1")
    val all = (0 until rotations)
      .map(r => suffixArraySpansSalted(docs, gramLen, shards, textCol,
        idCol, rotationSalt(r)))
      .reduce(_.unionByName(_))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("span_start"), col("span_end"))
    val prevMax = max(col("span_end"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    all
      .withColumn("__brk",
        when(col("span_start") <= coalesce(prevMax, lit(Long.MinValue)),
          lit(0L)).otherwise(lit(1L)))
      .withColumn("__isl", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("span_start")).as("span_start"),
        max(col("span_end")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }

  /** [[crossShardGramMiss]] generalized to the ROTATED sharding: a
    * duplicate gram is missed only if in EVERY rotation its occurrences
    * all land in different shards — the blind spot that survives the
    * union. One row per rotations-count 1..`rotations` (cumulative over
    * the same salt sequence as [[suffixArraySpansRotated]]), so the
    * measured miss-mass decay is read directly against the
    * (1 − 1/shards)^R prediction. Columns per row: rotations_used,
    * n_dup_grams, dup_occurrences, n_missed_grams, missed_occurrences. */
  def crossShardGramMissRotated(docs: DataFrame, gramLen: Int = 30,
      shards: Int = 4, rotations: Int = 2, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(gramLen >= 2, "need gramLen >= 2")
    require(rotations >= 1, "need rotations >= 1")
    require(shards >= 1 && Integer.bitCount(shards) == 1,
      "shards must be a power of two (oracle-replicable md5 sharding)")
    val L = gramLen
    val base = docs
      .select(col(idCol).cast("string").as("__id"),
        regexp_replace(coalesce(col(textCol), lit("")),
          lit("[\\uE000-\\uEFFF]"), lit("\uFFFD")).as("__t"))
      .filter(length(col("__t")) >= L)
    val shardCols = (0 until rotations).map(r =>
      pmod(graft.functions.Md5Low64(
          concat(lit(rotationSalt(r)), col("__id"))),
        lit(shards.toLong)).as(s"sh$r"))
    val g = base
      .select((col("__t") +: shardCols): _*)
      .select((explode(sequence(lit(0), length(col("__t")) - L)).as("pos")
        +: col("__t") +: (0 until rotations).map(r => col(s"sh$r"))): _*)
      .select((expr(s"substring(__t, pos + 1, $L)").as("gram")
        +: (0 until rotations).map(r => col(s"sh$r"))): _*)
    // per (gram, rotation-shard) counts in ONE aggregate pass per
    // rotation level: co-sharded-somewhere_r = max over shards of count.
    // MATERIALIZED (the oracle's `ps AS MATERIALIZED`): R per-rotation
    // rollups + the cumulative union branches all read this frame — left
    // lazy, each consumer re-ran the position-grained explode over the
    // whole corpus (4 parquet scans at rotations = 2). DISK_ONLY, not the
    // default memory pin: the frame is gram-grained, i.e. corpus-sized
    // (the q196 rule — corpus-sized reuse frames must not claim the
    // storage half of the unified pool).
    val perShard = g.groupBy((col("gram") +: (0 until rotations)
        .map(r => col(s"sh$r"))): _*)
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // n is the count of the EXACT (sh0..sh_{R-1}) combination; the
    // per-rotation shard count is the sum over the other rotations'
    // shard axes — aggregate per rotation from the combination counts
    // (combination rows ≪ position rows, so R passes here are cheap)
    val perRot = (0 until rotations).map { r =>
      perShard.groupBy(col("gram"), col(s"sh$r"))
        .agg(sum(col("n")).as("cnt"))
        .groupBy(col("gram"))
        .agg(max(col("cnt")).as(s"mx"), sum(col("cnt")).as("total"))
        .select(col("gram"), col("total"), col("mx").as(s"mx$r"))
    }
    // MATERIALIZED (the oracle's `j AS MATERIALIZED`): one row per
    // corpus-wide duplicate gram — the slim frame each cumulative
    // rotations-used branch aggregates; left lazy, every union branch
    // re-derived the R rollups + join chain from perShard.
    val joined = perRot.reduce((a, b) =>
      a.join(b.drop("total"), Seq("gram")))
      .filter(col("total") >= 2)
      .localCheckpoint()
    (1 to rotations).map { used =>
      val best = (0 until used).map(r => col(s"mx$r"))
        .reduce((a, b) => greatest(a, b))
      joined.agg(
        count(lit(1)).as("n_dup_grams"),
        coalesce(sum(col("total")), lit(0L)).as("dup_occurrences"),
        coalesce(sum(when(best < 2, 1L).otherwise(0L)), lit(0L))
          .as("n_missed_grams"),
        coalesce(sum(when(best < 2, col("total")).otherwise(lit(0L))),
          lit(0L)).as("missed_occurrences"))
        .select(lit(used).as("rotations_used"), col("n_dup_grams"),
          col("dup_occurrences"), col("n_missed_grams"),
          col("missed_occurrences"))
    }.reduce(_.unionByName(_)).orderBy(col("rotations_used"))
  }

  def duplicateSpans(docs: DataFrame, gramLen: Int = 30, minDocs: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(gramLen >= 2 && minDocs >= 2, "need gramLen >= 2, minDocs >= 2")
    val L = gramLen
    // Per-doc PACKED gram-hash arrays via the native rolling-hash kernel
    // ([[graft.functions.GramHashes]]): one O(n) loop per document
    // replaces the previous explode+substring+xxhash64 derivation, which
    // paid an O(L) hash and a String allocation PER POSITION — and had to
    // run twice because the |positions|-row frame (~45M rows, >1 GB at
    // 30×) was too fat to checkpoint profitably. The packed form is
    // |docs| rows × 8 B/position, cheap to materialize, so the text is
    // now scanned ONCE and both consumers (dup-hash aggregate + position
    // semi-join) re-derive their position rows in-task from the arrays.
    val packed = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= L)
      .select(col("doc_id"),
        graft.functions.GramHashes(col("__t"), L).as("__hs"))
      .localCheckpoint()
    def grams = packed
      .select(col("doc_id"), posexplode(col("__hs")).as(Seq("pos", "__h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("__h"))
    // minDocs == 2 (the Lee-et-al default) avoids the distinct-aggregate
    // rewrite: count_distinct(doc_id) plans as Aggregate(h, doc_id) →
    // exchange → Aggregate(h), i.e. the near-unique (hash, doc) pairs
    // cross the wire and aggregate twice. "appears in >= 2 distinct docs"
    // is exactly min(doc_id) != max(doc_id) (both ignore nulls the same
    // way count_distinct does), which is a single map-side-combinable
    // HashAggregate — one exchange keyed by hash alone.
    val dup = (if (minDocs == 2)
      grams.groupBy(col("__h"))
        .agg(min(col("doc_id")).as("__mn"), max(col("doc_id")).as("__mx"))
        .filter(col("__mn") =!= col("__mx"))
    else
      grams.groupBy(col("__h"))
        .agg(count_distinct(col("doc_id")).as("__nd"))
        .filter(col("__nd") >= minDocs)
      ).select(col("__h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    grams.join(dup, Seq("__h"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= L, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("__isl", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + L).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"))
  }
}
