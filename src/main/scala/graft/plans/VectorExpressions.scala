package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* The engine's row kernels: each object below holds one fused per-row
 * function over Catalyst's internal types and a Column helper that plans
 * it through `GraftSqlBridge.kernel`.
 *
 * Why a fused kernel: the composable formulations of these operators
 * either run an interpreted lambda per array element (`zip_with`,
 * `aggregate` and `transform` are CodegenFallback and re-inline the
 * tokenizer into every lambda iteration — O(tokens²) per row, measured
 * 20 s → 0.9 s on d31) or explode the row and pay exchanges for a value
 * that depends on the row alone. A kernel is one tight loop per row, the
 * fused single-projection operator that pure-SQL inference pipelines
 * build by operator fusion.
 *
 * Why `StaticInvoke`: Spark's own expression for calling a static method
 * emits one static call inside the whole-stage-codegen projection and
 * calls the same method by reflection when interpreted. So each kernel
 * has one implementation, with no hand-written Catalyst expression class
 * to keep in step with it in two modes. Driver-side models (centroid
 * matrices, seed sets, filter bytes, weights) ride in as
 * `GraftSqlBridge.model` plan constants. */

/** Float-vector cosine similarity.
  *
  * Numeric contract (oracle parity): elements cast float→double, then a
  * single left-to-right accumulation of dot/norms, final value
  * dot/(√na·√nb), 0.0 for zero vectors — bit-identical to the HOF
  * formulation it replaces.
  */
object CosineSimilarityExpr {

  def cosine(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x(i).toDouble
      val yi = y(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
  }

  def cosine(x: ArrayData, y: ArrayData): Double =
    cosine(x.toFloatArray(), y.toFloatArray())

  def cosineSim(a: Column, b: Column): Column =
    GraftSqlBridge.kernel(CosineSimilarityExpr, "cosine", DoubleType, a, b)
}

/** MinHash signature: k seeded minima over a string-array column in ONE
  * pass over the array — the HOF formulation (`transform(seq(0,k-1),
  * seed -> array_min(transform(sh, xxhash64(_, seed))))`) re-traverses
  * the shingle array per seed with interpreted lambdas. Hash family:
  * xxhash64 of the shingle bytes (seed 42), then k affine permutations. */
object MinHashSignatureExpr {

  /** splitmix64 — seeds the affine hash family deterministically. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Affine family coefficients (a odd → each a*h+b is a permutation of
    * Z_2^64). Grown on demand, cached: the per-row hot loop reads plain
    * arrays. Published as ONE volatile pair — two separate fields let a
    * racing reader observe the grown `a` array next to the still-empty
    * `b` array (torn publication; surfaced as an
    * ArrayIndexOutOfBoundsException in the first multi-threaded stage
    * that warmed the cache). */
  @volatile private var coefs: (Array[Long], Array[Long]) =
    (Array.emptyLongArray, Array.emptyLongArray)
  private def coefficients(k: Int): (Array[Long], Array[Long]) = {
    var c = coefs
    if (c._1.length < k) synchronized {
      c = coefs
      if (c._1.length < k) {
        c = (Array.tabulate(k)(j => mix(2L * j) | 1L),
          Array.tabulate(k)(j => mix(2L * j + 1)))
        coefs = c
      }
    }
    c
  }

  /** One pass, hash-once: each shingle is xxhash64'd ONCE, then the k
    * MinHash values derive from k affine permutations a_j*h+b_j of that
    * hash (the standard min-wise family, as in Spark ML's MinHashLSH) —
    * O(bytes + k) per shingle instead of O(k × bytes). Empty set →
    * Long.MaxValue sentinels (no shared buckets). */
  def signature(sh: ArrayData, k: Int): ArrayData = {
    val (as, bs) = coefficients(k)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = sh.numElements()
    while (i < n) {
      val s = sh.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var j = 0
      while (j < k) {
        val v = as(j) * h + bs(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def minhashSig(c: Column, k: Int): Column =
    GraftSqlBridge.kernel(MinHashSignatureExpr, "signature",
      ArrayType(LongType, containsNull = false), c, lit(k))
}

/** Word n-gram shingling: whitespace-tokenize + distinct n-grams in one
  * pass. The HOF formulation (`transform(sequence(...), i =>
  * concat_ws(" ", slice(tokens, i, n)))`) re-evaluates the tokenize
  * expression on every lambda iteration, i.e. O(tokens) regex splits per
  * row. Semantics match `array_distinct(transform(...))`: trim, split on
  * \s+, distinct first-occurrence n-grams, empty for rows with < n
  * tokens. */
object ShinglesExpr {

  def shingle(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  def shingles(c: Column, n: Int): Column =
    GraftSqlBridge.kernel(ShinglesExpr, "shingle",
      ArrayType(StringType, containsNull = false), c, lit(n))
}

/** Nearest-centroid assignment: argmax cosine similarity of a float-vector
  * column against a small in-plan centroid matrix (the IVF coarse
  * quantizer), a single tight loop inside the scan projection — zero
  * shuffle, zero join. This replaces the crossJoin(corpus × centroids) +
  * window-argmin shape, which shuffled and sorted k× the corpus to take
  * a per-row argmin.
  *
  * Ties break to the lowest centroid id; a null/absent vector yields null.
  */
object NearestCentroidExpr {

  def nearest(v: ArrayData, centroids: Array[Array[Float]]): Int = {
    val q = v.toFloatArray()
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val sim = CosineSimilarityExpr.cosine(q, centroids(c))
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  def nearestCentroid(c: Column, centroids: Array[Array[Float]]): Column =
    GraftSqlBridge.kernel(NearestCentroidExpr, "nearest", IntegerType,
      c, GraftSqlBridge.model(centroids))
}

/** The nProbe nearest centroid ids of a float-vector column (cosine,
  * best-first, ties to the lower id) — the MULTI-probe coarse-quantizer
  * step of batched IVF search: where [[NearestCentroidExpr]] assigns a
  * corpus row to its one home list, this kernel fans a QUERY row out to
  * the nProbe lists worth probing (explode it and equi-join the lists).
  * Zero shuffle, zero join. */
object NearestCentroidsExpr {

  /** O(k·nProbe) repeated-max over the similarity row — k is the coarse
    * quantizer size (≤ thousands), so this beats a sort. */
  def nearestN(v: Array[Float], centroids: Array[Array[Float]],
      nProbe: Int): ArrayData = {
    val k = centroids.length
    val sims = new Array[Double](k)
    var c = 0
    while (c < k) { sims(c) = CosineSimilarityExpr.cosine(v, centroids(c)); c += 1 }
    val n = math.min(nProbe, k)
    val out = new Array[Any](n)
    val taken = new Array[Boolean](k)
    var i = 0
    while (i < n) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && sims(c2) > bestSim) { bestSim = sims(c2); best = c2 }
        c2 += 1
      }
      taken(best) = true
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  def nearestN(v: ArrayData, centroids: Array[Array[Float]],
      nProbe: Int): ArrayData = nearestN(v.toFloatArray(), centroids, nProbe)

  def nearestCentroids(c: Column, centroids: Array[Array[Float]],
      nProbe: Int): Column =
    GraftSqlBridge.kernel(NearestCentroidsExpr, "nearestN",
      ArrayType(IntegerType, containsNull = false),
      c, GraftSqlBridge.model(centroids), lit(nProbe))
}

/** Random-hyperplane LSH signature against an explicit ±1 hyperplane
  * matrix (nBits × dim): bit p of the result is the sign of the
  * projection of the vector onto hyperplane p. The matrix is a
  * data-independent MODEL — built once driver-side (see
  * [[HyperplaneSignatureExpr.md5Signs]]) and carried into the plan like
  * the IVF centroids — so per-row cost is one tight float loop inside
  * whole-stage codegen; the nested-HOF formulation this replaces
  * re-inlined the projection per hyperplane, interpreted. Deriving signs
  * from md5 keeps the whole signature reproducible in ANSI SQL, which is
  * what lets s04 be oracle-checked.
  */
object HyperplaneSignatureExpr {

  def signature(v: Array[Float], signs: Array[Array[Float]]): Long = {
    var sig = 0L
    var p = 0
    while (p < signs.length) {
      val row = signs(p)
      val n = math.min(v.length, row.length)
      var proj = 0.0
      var d = 0
      while (d < n) { proj += v(d).toDouble * row(d); d += 1 }
      if (proj > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  def signature(v: ArrayData, signs: Array[Array[Float]]): Long =
    signature(v.toFloatArray(), signs)

  /** The ±1 hyperplane matrix from md5: sign(p, d) = +1 iff the first
    * hex nibble of md5("p:d") is odd — matched exactly by the DuckDB SQL
    * `CAST('0x' || substr(md5(p || ':' || d), 1, 1) AS INT) % 2`. */
  def md5Signs(nBits: Int, dim: Int): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nBits, dim) { (p, d) =>
      val digest = md.digest(s"$p:$d".getBytes("UTF-8"))
      if (((digest(0) >> 4) & 1) == 1) 1.0f else -1.0f
    }
  }

  /** Seeded variant for operators that need INDEPENDENT plane sets (one
    * per LSH band): digest keyed by (seed, plane, coord), so distinct
    * seeds give uncorrelated matrices while staying deterministic and
    * SQL-reproducible (`md5(seed || ':' || p || ':' || d)`). */
  def md5Signs(nBits: Int, dim: Int, seed: String): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nBits, dim) { (p, d) =>
      val digest = md.digest(s"$seed:$p:$d".getBytes("UTF-8"))
      if (((digest(0) >> 4) & 1) == 1) 1.0f else -1.0f
    }
  }

  def hyperplaneSig(c: Column, signs: Array[Array[Float]]): Column =
    GraftSqlBridge.kernel(HyperplaneSignatureExpr, "signature", LongType,
      c, GraftSqlBridge.model(signs))
}

/** Multiplicity-preserving word n-grams — [[ShinglesExpr]] minus the
  * distinct (whose LinkedHashSet semantics are right for Jaccard but
  * CORRUPT language-model counts: a repeated bigram must count every
  * occurrence). The HOF formulation (`transform(sequence(1, size-1), i =>
  * concat_ws(" ", element_at(toks, i), element_at(toks, i+1)))`) inlines
  * the tokenize expression into the lambda body, re-running the regex
  * split per ELEMENT — O(tokens²) per row, measured as a 20 s model build
  * on the 5k-doc gate corpus. This kernel tokenizes once. */
object NgramsExpr {

  def ngramsOf(text: UTF8String, n: Int): ArrayData = {
    val toks = text.toString.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  def ngrams(c: Column, n: Int): Column =
    GraftSqlBridge.kernel(NgramsExpr, "ngramsOf",
      ArrayType(StringType, containsNull = false), c, lit(n))
}

/** Content-defined chunking: the complete per-document CDC pipeline —
  * tokenize, stride-1 window fingerprints, mod-boundary selection, chunk
  * slicing and chunk fingerprints — in ONE pass of tight Java. The staged
  * higher-order-function formulation is linear (each stage references the
  * previous materialized array column) but every lambda step is
  * interpreted and each window/chunk fingerprint allocates through the
  * generic md5 expression — measured 4.5 s on the 5k-doc gate corpus vs
  * sub-second for the kernel.
  *
  * Fingerprints are the engine's cross-engine 60-bit identity: the
  * first 15 hex digits of md5 of the space-joined tokens, as a long —
  * bit-identical to `conv(substr(md5(x),1,15),16,10)` and to DuckDB's
  * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`.
  *
  * Output: array of (chunk_start, chunk_len, fp) structs; empty array
  * for empty documents; one whole-document chunk when the document is
  * shorter than the window. A chunk boundary falls after token i
  * exactly when the fingerprint of the window ENDING at i is ≡ 0 mod
  * `modulus`, plus the forced end-of-document boundary. */
object CdcChunksExpr {

  private val outType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_start", IntegerType, nullable = false),
    StructField("chunk_len", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)

  /** First 15 hex digits of md5(s) as a long: 8 digest bytes hold 16 hex
    * digits; dropping the low nibble keeps exactly the leading 15 (always
    * non-negative). */
  private[plans] def md560(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private def joinRange(toks: Array[String], from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(toks(from))
    var i = from + 1
    while (i <= to) { sb.append(' ').append(toks(i)); i += 1 }
    sb.toString
  }

  def chunksOf(text: UTF8String, w: Int, modulus: Int): ArrayData = {
    val toks = text.toString.trim.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    // boundary END positions (content boundaries), then forced end-of-doc
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i <= n - w) {
      if (md560(md, joinRange(toks, i, i + w - 1)) % modulus == 0)
        ends += (i + w - 1)
      i += 1
    }
    if (ends.isEmpty || ends.last != n - 1) ends += (n - 1)
    val out = new Array[Any](ends.length)
    var start = 0
    var c = 0
    while (c < ends.length) {
      val end = ends(c)
      out(c) = InternalRow(start, end - start + 1,
        md560(md, joinRange(toks, start, end)))
      start = end + 1
      c += 1
    }
    new GenericArrayData(out)
  }

  def chunks(c: Column, windowTokens: Int, modulus: Int): Column =
    GraftSqlBridge.kernel(CdcChunksExpr, "chunksOf", outType,
      c, lit(windowTokens), lit(modulus))
}

/** Shannon entropy over a document's character or whitespace-token
  * distribution — the randomness half of the quality family (d03
  * heuristics, d39 Gopher rules, d40 repetition): machine-generated
  * keyboard mash and template spam sit at the distribution's extremes,
  * so published pipelines filter on "bits per character / token" next to
  * the rule-based signals.
  *
  * A kernel for the same reason as [[NgramsExpr]]: the composable
  * formulation (explode characters → two aggregates → join back) pays
  * two exchanges per corpus scan for a value that is a pure per-row
  * function of the text; the HOF formulation (`transform` over a
  * distinct-char array probing `regexp_count` per element) is
  * interpreted AND quadratic per row. This kernel is one frequency map +
  * one log pass.
  *
  * Numeric contract (oracle parity): entropy = −Σ (c/n)·ln(c/n)/ln 2
  * accumulated per distinct symbol; callers round (the ±1 ulp
  * transcendental spread is the d31 precedent) — and the sum is
  * clamped at ≥ 0.0, so the single-symbol case cannot emit IEEE −0.0
  * (which the two engines format differently). Empty/null-safe: 0.0
  * for empty text; codepoint-level iteration so the contract is
  * "characters" exactly like SQL `substr`, not UTF-16 units.
  */
object EntropyExpr {

  private val Ln2 = math.log(2.0)

  def entropyOf(text: UTF8String, tokenLevel: Boolean): Double = {
    val s = text.toString
    val counts = new java.util.HashMap[String, Long]()
    var n = 0L
    if (tokenLevel) {
      val toks = s.trim.split("\\s+")
      var i = 0
      while (i < toks.length) {
        if (toks(i).nonEmpty) { counts.merge(toks(i), 1L, _ + _); n += 1 }
        i += 1
      }
    } else {
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        counts.merge(new String(Character.toChars(cp)), 1L, _ + _)
        n += 1
        i += Character.charCount(cp)
      }
    }
    if (n == 0L) return 0.0
    var h = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      h -= p * (math.log(p) / Ln2)
    }
    if (h <= 0.0) 0.0 else h
  }

  def entropy(c: Column, tokenLevel: Boolean): Column =
    GraftSqlBridge.kernel(EntropyExpr, "entropyOf", DoubleType, c, lit(tokenLevel))
}

/** Dense matrix–vector projection: out[p] = Σ_d m[p][d]·v[d]. The matrix
  * is a data-independent MODEL (e.g. a seeded ±1/√k Johnson–Lindenstrauss
  * sign matrix from [[HyperplaneSignatureExpr.md5Signs]]) built once
  * driver-side and carried into the plan — the same pattern as the IVF
  * centroids and the hyperplane planes. This is
  * [[HyperplaneSignatureExpr]] keeping the projection VALUES instead of
  * their signs, which is what dimensionality reduction needs and LSH
  * discards. Per-row cost is one tight p×d float loop; summation runs in
  * coordinate order so the result is a deterministic IEEE double
  * independent of partitioning.
  */
object MatrixProjectExpr {

  def project(v: ArrayData, m: Array[Array[Float]]): ArrayData = {
    val q = v.toFloatArray()
    val out = new Array[Any](m.length)
    var p = 0
    while (p < m.length) {
      val row = m(p)
      val n = math.min(q.length, row.length)
      var acc = 0.0
      var d = 0
      while (d < n) { acc += q(d).toDouble * row(d); d += 1 }
      out(p) = acc
      p += 1
    }
    new GenericArrayData(out)
  }

  def matrixProject(c: Column, matrix: Array[Array[Float]]): Column =
    GraftSqlBridge.kernel(MatrixProjectExpr, "project",
      ArrayType(DoubleType, containsNull = false), c, GraftSqlBridge.model(matrix))
}

/** Greedy BPE merge application: both arguments are space-joined symbol
  * strings — the word's current symbol sequence, and the merge pair
  * "A B". One left-to-right non-overlapping pass replaces each A B
  * occurrence with the fused symbol AB (the standard BPE scan: after a
  * merge the cursor advances past BOTH consumed symbols, so a run of
  * three A's under the merge (A,A) yields [AA, A]). The relational
  * equivalent (position explode + gaps-and-islands parity selection) is
  * what the DuckDB oracle replays; this kernel keeps the engine side a
  * single pass over the vocabulary-sized state table. */
object BpeApplyExpr {

  def applyMerge(sym: UTF8String, pair: UTF8String): UTF8String = {
    val toks = sym.toString.split(" ")
    val p = pair.toString.split(" ", 2)
    if (p.length != 2) return sym
    val a = p(0)
    val b = p(1)
    val out = new java.lang.StringBuilder
    var i = 0
    var first = true
    while (i < toks.length) {
      val merged = i + 1 < toks.length && toks(i) == a && toks(i + 1) == b
      if (!first) out.append(' ')
      if (merged) { out.append(a).append(b); i += 2 }
      else { out.append(toks(i)); i += 1 }
      first = false
    }
    UTF8String.fromString(out.toString)
  }

  def bpeApply(sym: Column, pair: Column): Column =
    GraftSqlBridge.kernel(BpeApplyExpr, "applyMerge", StringType, sym, pair)
}

/** Unicode text canonicalization — the cleaning front of every
  * text-dedup/quality operator: NFD-decompose, strip combining marks
  * (accent removal — verified char-for-char against DuckDB's
  * `strip_accents` utf8proc behavior: ø/ß/œ/ł survive, á/ç/ñ/ș/İ fold),
  * NFC-recompose, ROOT-locale lowercase, collapse ASCII whitespace runs
  * to one space, trim. One pass per row — a regex/HOF chain would pay an
  * interpreted pass per step (the d31/d32 kernel lesson).
  *
  * Cross-engine contract: equals DuckDB
  * `trim(regexp_replace(lower(strip_accents(nfc_normalize(x))), '\s+', ' ', 'g'))`
  * for Latin-script text (the gate injects accents deterministically to
  * make that non-vacuous). Contextual case mappings outside Latin (the
  * Greek final sigma) follow the JVM rule and may differ from utf8proc —
  * documented, spec-pinned on the JVM side.
  */
object NormalizeTextExpr {

  private def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000B'

  def normalize(text: UTF8String): UTF8String = {
    val s = text.toString
    val decomposed = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(decomposed.length)
    var i = 0
    while (i < decomposed.length) {
      val cp = decomposed.codePointAt(i)
      if (Character.getType(cp) != Character.NON_SPACING_MARK)
        sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    val recomposed = java.text.Normalizer
      .normalize(sb, java.text.Normalizer.Form.NFC)
      .toLowerCase(java.util.Locale.ROOT)
    // collapse ASCII whitespace runs to single spaces, trim ends
    val out = new java.lang.StringBuilder(recomposed.length)
    var j = 0
    var pendingSpace = false
    while (j < recomposed.length) {
      val c = recomposed.charAt(j)
      if (isAsciiSpace(c)) { if (out.length() > 0) pendingSpace = true }
      else {
        if (pendingSpace) { out.append(' '); pendingSpace = false }
        out.append(c)
      }
      j += 1
    }
    UTF8String.fromString(out.toString)
  }

  def normalizeText(c: Column): Column =
    GraftSqlBridge.kernel(NormalizeTextExpr, "normalize", StringType, c)
}

/** The Gopher repetition signals (d40): every gram of a document lives in
  * ONE row, so the three published fractions — top-unigram frequency,
  * char-weighted duplicate-bigram and -trigram fractions — never need
  * the (doc, n, gram) explode + two shuffled aggregations + pivot + spine
  * join the composable formulation paid (guide §2.4: remove the shuffle
  * outright; the in-row counting lesson applied to the whole query). One
  * pass over the token array per n-gram level.
  *
  * Numeric contract (bit-parity with the aggregate formulation it
  * replaces): counts are exact longs; each fraction is one double
  * division of exact operands; floor(x·10⁴ + 0.5)/10⁴ applied exactly as
  * before; gram length counts Unicode code points (Spark's `length`);
  * missing levels / no-repeat levels emit 0.0 (the old coalesce paths).
  */
object RepetitionSignalsExpr {

  private val outType: DataType = StructType(Seq(
    StructField("top_tok_frac", DoubleType, nullable = false),
    StructField("dup2_frac", DoubleType, nullable = false),
    StructField("dup3_frac", DoubleType, nullable = false)))

  private def r4(x: Double): Double = Math.floor(x * 10000d + 0.5d) / 10000d

  /** max(cnt)/Σcnt over the level's gram counts (0.0 when no grams). */
  private def topFrac(counts: java.util.HashMap[String, Long]): Double = {
    if (counts.isEmpty) return 0.0
    var mx = 0L
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c > mx) mx = c
      sum += c
    }
    r4(mx.toDouble / sum.toDouble)
  }

  /** Σ_{cnt≥2} cnt·chars(g) / Σ cnt·chars(g) (0.0 when nothing repeats —
    * the old sum-over-empty-set NULL → coalesce path). */
  private def dupFrac(counts: java.util.HashMap[String, Long]): Double = {
    if (counts.isEmpty) return 0.0
    var num = 0L
    var den = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey
      val chars = g.codePointCount(0, g.length).toLong
      val w = e.getValue * chars
      den += w
      if (e.getValue >= 2L) num += w
    }
    if (num == 0L || den == 0L) 0.0 else r4(num.toDouble / den.toDouble)
  }

  private def levelCounts(toks: Array[String], n: Int)
      : java.util.HashMap[String, Long] = {
    val m = new java.util.HashMap[String, Long]()
    if (toks.length < n) return m
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      m.merge(sb.toString, 1L, (a, b) => a + b)
      i += 1
    }
    m
  }

  def signalsOf(text: UTF8String): InternalRow = {
    // same tokenizer as NgramsExpr (the d-family contract)
    val toks = text.toString.trim.split("\\s+").filter(_.nonEmpty)
    new GenericInternalRow(Array[Any](
      topFrac(levelCounts(toks, 1)),
      dupFrac(levelCounts(toks, 2)),
      dupFrac(levelCounts(toks, 3))))
  }

  def repetitionSignals(c: Column): Column =
    GraftSqlBridge.kernel(RepetitionSignalsExpr, "signalsOf", outType, c)
}

/** T5-style span corruption (d44): the masking decision, sentinel
  * numbering, input/target rebuilds and span count all depend only on a
  * document's OWN tokens and id, so the whole transformation is one
  * in-row pass — replacing the previous posexplode → sentinel-rank
  * window → span join → three positional rebuild aggregates → three
  * spine joins (every one an exchange on the doc key, at any corpus
  * size) with a zero-exchange projection (guide §2.4; the d40 kernel
  * lesson applied to token surgery).
  *
  * Bit-parity with the aggregate formulation: the mask bucket is the
  * same 60-bit md5 of "seed:docId:grp" mod 10⁶; the input keeps tokens
  * in position order with one ordered sentinel at each masked span's
  * start; the target emits sentinel-then-span-tokens in span order
  * (exactly the old (pos, sub) sort); all joins single-spaced; strings
  * and counts are exact — no floating point anywhere.
  */
object SpanCorruptionExpr {

  private val outType: DataType = StructType(Seq(
    StructField("input_text", StringType, nullable = false),
    StructField("target_text", StringType, nullable = false),
    StructField("n_masked_spans", LongType, nullable = false)))

  def corruptOf(text: UTF8String, docId: UTF8String, spanLen: Int,
      ratePerMillion: Int, seed: String): InternalRow = {
    val toks = text.toString.trim.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val nSpans = if (n == 0) 0 else (n + spanLen - 1) / spanLen
    val id = docId.toString
    val masked = new Array[Boolean](nSpans)
    var nMasked = 0L
    var g = 0
    while (g < nSpans) {
      masked(g) = Simhash60Expr.bucket60(seed + ":" + id + ":" + g) %
        1000000L < ratePerMillion
      if (masked(g)) nMasked += 1
      g += 1
    }
    val inp = new java.lang.StringBuilder
    val tgt = new java.lang.StringBuilder
    var k = 0
    g = 0
    while (g < nSpans) {
      val from = g * spanLen
      val until = math.min(n, from + spanLen)
      if (masked(g)) {
        val sentinel = "<extra_id_" + k + ">"
        if (inp.length > 0) inp.append(' ')
        inp.append(sentinel)
        if (tgt.length > 0) tgt.append(' ')
        tgt.append(sentinel)
        var p = from
        while (p < until) { tgt.append(' ').append(toks(p)); p += 1 }
        k += 1
      } else {
        var p = from
        while (p < until) {
          if (inp.length > 0) inp.append(' ')
          inp.append(toks(p))
          p += 1
        }
      }
      g += 1
    }
    new GenericInternalRow(Array[Any](UTF8String.fromString(inp.toString),
      UTF8String.fromString(tgt.toString), nMasked))
  }

  def spanCorrupt(text: Column, docId: Column, spanLen: Int,
      ratePerMillion: Int, seed: String): Column =
    GraftSqlBridge.kernel(SpanCorruptionExpr, "corruptOf", outType, text, docId,
      lit(spanLen), lit(ratePerMillion), GraftSqlBridge.model(seed))
}

/** 60-bit SimHash signatures (d08 and the multimodal twin): a document's
  * signature depends only on its own tokens — bit b is the sign of Σ ±1
  * over the tokens' hash bit b, an order-free exact integer sum — so the
  * explode → 60-conditional-sum hash aggregate → spine join pipeline (one
  * token-level exchange + one join per use) collapses to a zero-exchange
  * projection: one md5 per token, sixty counters. Empty-token documents
  * emit signature 0 exactly as the old spine-join backfill did.
  *
  * Tokenizer edge (round-15 advice): Java `trim` + filter(nonEmpty)
  * drops the leading EMPTY token the old Spark-`trim` (space-only)
  * formulation kept for docs starting with a tab/newline — the kernel
  * matches the DuckDB oracle's `list_filter(t <> '')` shape, which is
  * the contract that matters (regression-pinned in DedupSpec). Java
  * trim also strips control chars ≤ 0x20 that `\s` does not — a
  * residual cross-engine edge no gate corpus exercises.
  */
object Simhash60Expr {

  /** The engine-wide 60-bit md5 identity (first 15 hex chars as long),
    * shared with [[SpanCorruptionExpr]]'s span bucket. */
  def bucket60(s: String): Long =
    CdcChunksExpr.md560(java.security.MessageDigest.getInstance("MD5"), s)

  def simhashOf(text: UTF8String): Long = {
    val toks = text.toString.trim.split("\\s+").filter(_.nonEmpty)
    val counts = new Array[Int](60)
    var i = 0
    while (i < toks.length) {
      val h = bucket60(toks(i))
      var b = 0
      while (b < 60) {
        counts(b) += (((h >>> b) & 1L).toInt * 2) - 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 60) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  def simhash60(c: Column): Column =
    GraftSqlBridge.kernel(Simhash60Expr, "simhashOf", LongType, c)
}

/** Hashed-unigram bucket counting — the featurization scan of the
  * d35/d74/d75/d86 hashed-logreg family collapsed to one projection: a
  * document's feature vector x[b] = Σ_{tok: h(tok)=b} 1 depends only on
  * its OWN tokens, so the token explode, the partial hash aggregate and
  * the (doc, bucket) exchange the composable formulation paid per
  * TRAINING ITERATION all disappear (guide §2.4 — remove the shuffle
  * outright; the in-row counting lesson applied to the feature
  * space).
  *
  * The bucket is the engine's cross-engine 60-bit identity of the token
  * modulo `buckets`: first 15 hex digits of md5 as a long — bit-identical
  * to `conv(substr(md5(tok),1,15),16,10) % buckets` and to DuckDB's
  * `CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % buckets` (the oracle's
  * fx CTE). Grams are the 1..maxN space-joined token n-grams
  * ([[NgramsExpr]] semantics per level: trim, split on whitespace, drop
  * empties; maxN = 1 is plain unigrams, maxN = 2 the DSIR uni+bigram
  * space); callers lowercase beforehand exactly as they did for the
  * exploded form. Counts are exact longs; empty text yields the
  * all-zero vector (the old explode_outer null-gram path). */
object HashedBucketCountsExpr {

  def countsOf(text: UTF8String, buckets: Int, maxN: Int): ArrayData = {
    val toks = text.toString.trim.split("\\s+").filter(_.nonEmpty)
    val counts = new Array[Long](buckets)
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 1
    while (n <= maxN) {
      var i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        counts((CdcChunksExpr.md560(md, sb.toString) % buckets).toInt) += 1L
        i += 1
      }
      n += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  def hashedBucketCounts(c: Column, buckets: Int, maxN: Int = 1): Column =
    GraftSqlBridge.kernel(HashedBucketCountsExpr, "countsOf",
      ArrayType(LongType, containsNull = false), c, lit(buckets), lit(maxN))
}

/** Elementwise sum of a long array — Σ_b x[b] as one exact long, the
  * in-row twin of `count(exploded grams)` over a
  * [[HashedBucketCountsExpr]] vector. */
object ArraySumLongExpr {

  def sumOf(counts: ArrayData): Long = {
    var acc = 0L
    var b = 0
    val n = counts.numElements()
    while (b < n) { acc += counts.getLong(b); b += 1 }
    acc
  }

  def arraySumLong(c: Column): Column =
    GraftSqlBridge.kernel(ArraySumLongExpr, "sumOf", LongType, c)
}

/** Dot product of a long-count array against a driver-side double weight
  * MODEL (the trained logreg weights — data-independent within a scoring
  * pass, the [[MatrixProjectExpr]] pattern). Terms accumulate in
  * ascending bucket order, zero counts contribute nothing (exactly the
  * buckets absent from the old exploded feature rows), one IEEE double
  * accumulation — the caller's round@9 absorbs summation-order ulps
  * precisely as it did for the aggregate formulation this replaces. */
object DotProductLitExpr {

  def dot(counts: ArrayData, w: Array[Double]): Double = {
    val n = math.min(counts.numElements(), w.length)
    var acc = 0.0
    var b = 0
    while (b < n) {
      val c = counts.getLong(b)
      if (c != 0L) acc += w(b) * c.toDouble
      b += 1
    }
    acc
  }

  def dotProduct(c: Column, weights: Array[Double]): Column =
    // defensive snapshot (round-15 advice): the plan holds the array by
    // reference, so a caller mutating its weights array after building a
    // lazy plan would silently re-score with the NEW values (the old
    // typedLit shape snapshotted); clone pins the values at construction
    GraftSqlBridge.kernel(DotProductLitExpr, "dot", DoubleType,
      c, GraftSqlBridge.model(weights.clone()))
}
