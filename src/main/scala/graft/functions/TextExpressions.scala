package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text/vector hot paths
  * (SURVEY §4 "custom pieces", activated by measurement), registered
  * through `SparkSessionExtensions` (see [[graft.GraftExtensions]]).
  *
  * Why not higher-order functions: HOF lambdas evaluate interpreted
  * (no whole-stage codegen), and Catalyst's CollapseProject inlines a
  * tokenization subtree into every element access — n-gram
  * construction via `transform(sequence(...), element_at(toks, i))`
  * re-ran trim/lower/regex/split ~45× per row. Measured at sf0.1:
  * shingle materialization alone cost 9 s for 5 000 docs; these
  * single-pass expressions reduce it to one tokenize per row.
  */
object TextExpressions {

  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  /** One-pass word n-gram shingle extraction with normalization:
    * trim → lower (UTF8String fold) → whitespace-split → distinct
    * n-grams in first-occurrence order — byte-equivalent to
    * `array_distinct(transform(sequence(...), concat_ws(" ", element_at…)))`
    * over `split(lower(regexp_replace(trim(text),'\s+',' ')),' ')`.
    *
    * Single-row work is one char scan; CodegenFallback is fine because
    * the expression is evaluated exactly once per row (the win is
    * eliminating the ~45× subtree re-evaluation, not codegen fusion).
    */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"

    override protected def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toLowerCase.toString.trim
      if (text.isEmpty) return new GenericArrayData(Array.empty[Any])
      // pre-compiled pattern: String.split("\\s+") recompiles the regex
      // per call, i.e. per ROW — measurable across the 8+ shingle
      // evaluations in the query suite
      val toks = TextExpressions.WsPattern.split(text)
      if (toks.length < n) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      val sb = new java.lang.StringBuilder(64)
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j)); j += 1
        }
        seen.add(sb.toString); i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator(); var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): WordShingles =
      copy(child = newChild)
  }

  /** Cosine similarity over two double arrays, whole-stage-codegen'd.
    * The fold is index-sequential per accumulator (dot, |a|², |b|²),
    * bit-identical to the HOF formulation
    * `aggregate(zip_with(a,b,(x,y)=>x*y),0.0,_+_) / (sqrt(Σx²)·sqrt(Σy²))`
    * — so swapping it under an oracle'd query changes nothing but speed.
    */
  case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val len = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < len) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        // fresh names: two cosine_sim calls can land in ONE generated
        // method (e.g. a join condition referencing both sides); fixed
        // local names made janino reject the whole method and the
        // predicate silently fell back to interpreted mode
        val len = ctx.freshName("len")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val i = ctx.freshName("i")
        val xi = ctx.freshName("xi")
        val yi = ctx.freshName("yi")
        s"""
           |int $len = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $len; $i++) {
           |  double $xi = $a.getDouble($i);
           |  double $yi = $b.getDouble($i);
           |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
      copy(left = l, right = r)
  }

  /** 64-bit SimHash over an array of string features, one pass.
    *
    * Per feature: xxhash64 with Spark's default seed 42 (the exact
    * value `functions.xxhash64` produces —
    * `XXH64.hashUTF8String(f, 42L)`), each hash bit voting ±1; sign of
    * the vote total sets the signature bit. Replaces a 64-column
    * `sum(when(...))` aggregation over exploded features: the
    * signature becomes a narrow per-row scalar (no explode, no
    * shuffle), which is also the shape that survives 100 TB — SimHash
    * is embarrassingly parallel per document and only the tiny
    * (band, signature) projection ever reaches an exchange.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"simhash64 expects array<string>, got $other")
      }

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      while (i < arr.numElements()) {
        val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }

    override protected def withNewChildInternal(newChild: Expression): SimHash64 =
      copy(child = newChild)
  }

  /** MinHash signature vector over an array of string features, one
    * pass. Permutation i of feature s is the chained xxhash64 Spark
    * itself computes for `xxhash64(s, lit(i))` — hashInt(i, seed =
    * hashUTF8String(s, 42)) — so the output is element-for-element
    * identical to the former explode → groupBy(min(xxhash64(sh,
    * lit(i)))×16 aggregation (pinned by a unit spec), but costs one
    * array scan per row with no explode and no shuffle. At 100 TB the
    * signature stage becomes map-only; only (band, bandhash) rows —
    * nPerm longs per doc — ever reach an exchange.
    */
  case class MinHashSigs(child: Expression, nPerm: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sigs"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"minhash_sigs expects array<string>, got $other")
      }

    override protected def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val sigs = Array.fill(nPerm)(Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        val base = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
        var p = 0
        while (p < nPerm) {
          val h = XXH64.hashInt(p, base)
          if (h < sigs(p)) sigs(p) = h
          p += 1
        }
        i += 1
      }
      new GenericArrayData(sigs)
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
      copy(child = newChild)
  }

  /** k-deletion-neighborhood keys for edit-distance-≤k blocking
    * (FastSS / SymSpell family): the string itself plus every distinct
    * string obtainable by deleting up to `k` CODE POINTS, BFS /
    * first-occurrence order. For k=1 this is element-equivalent to
    * `array_union(array(s), transform(sequence(1, length(s)),
    * i -> concat(substr(s,1,i-1), substr(s,i+1,…))))` but one
    * StringBuilder pass per row instead of an interpreted lambda
    * (the HOF form measured ~150 µs/row; this is ~1 µs).
    *
    * Deletions step by CODE POINTS, not UTF-16 units: Spark's
    * `levenshtein` (and `substr`/`length`) count code points
    * (UTF8String.numChars), so unit-level deletion would split
    * surrogate pairs and miss astral-plane near-pairs — e.g. one emoji
    * substituted for another is ed 1 by Spark's metric but two
    * unit-deletions deep. Blocking must use the same alphabet the
    * verify metric measures, or the join silently drops true pairs.
    *
    * FastSS exactness: ed(a,b) ≤ k ⟹ the k-deletion neighborhoods
    * intersect (align the optimal edit script; deleting the
    * substituted/inserted positions from each side yields a common
    * string). The converse over-generates, so candidates are verified
    * with the exact distance. Key count per row is O(C(len, k)) — the
    * k=1,2 regime this engine exposes; blocking keys are for SHORT
    * identifier-like strings, not documents.
    */
  case class DelKeys(child: Expression, k: Int)
      extends UnaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "del_keys"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          if (k >= 0) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
          else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"del_keys expects k >= 0, got $k")
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"del_keys expects a string column, got $other")
      }

    override protected def nullSafeEval(input: Any): Any = {
      val s0 = input.asInstanceOf[UTF8String].toString
      val seen = new java.util.LinkedHashSet[String]()
      seen.add(s0)
      var frontier = new scala.collection.mutable.ArrayBuffer[String]()
      frontier += s0
      var depth = 0
      while (depth < k && frontier.nonEmpty) {
        val next = new scala.collection.mutable.ArrayBuffer[String]()
        var fi = 0
        while (fi < frontier.length) {
          val s = frontier(fi)
          var unit = 0
          while (unit < s.length) {
            val cc = Character.charCount(s.codePointAt(unit))
            val del = s.substring(0, unit) + s.substring(unit + cc)
            if (seen.add(del)) next += del
            unit += cc
          }
          fi += 1
        }
        frontier = next
        depth += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator(); var i = 0
      while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
      new GenericArrayData(out)
    }

    override protected def withNewChildInternal(newChild: Expression): DelKeys =
      copy(child = newChild)
  }

  /** Ranks centroid indices (0-based) by cosine similarity to the
    * input vector, descending, ties broken by LOWER index; a 0-norm
    * side yields NaN cosine, pinned to −2 so degenerate vectors rank
    * last instead of first. Centroids arrive as a (typically literal)
    * `array<array<double>>` that ships inside the serialized plan —
    * which makes IVF cell assignment MAP-ONLY: the expression replaces
    * a corpus × centroids crossJoin + row_number window that shuffled
    * every corpus row through a sort exchange. `element_at(ranks, 1)`
    * is the assignment; `slice(ranks, 1, nprobe)` is the probe list.
    *
    * Cost is one |v|·nlist fused dot/norm pass per row (the vector
    * norm is hoisted out of the centroid loop). CodegenFallback is
    * fine: evaluated once per row, and the win is the removed
    * exchange, not expression fusion.
    */
  case class CentroidRanks(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "centroid_ranks"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"centroid_ranks expects (array<double>, array<array<double>>), got $other")
      }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val v = a.asInstanceOf[ArrayData].toDoubleArray()
      var nv = 0.0
      var j = 0
      while (j < v.length) { nv += v(j) * v(j); j += 1 }
      nv = math.sqrt(nv)
      val cents = b.asInstanceOf[ArrayData]
      val n = cents.numElements()
      val sims = new Array[Double](n)
      var i = 0
      while (i < n) {
        val c = cents.getArray(i)
        val len = math.min(v.length, c.numElements())
        var dot = 0.0; var nc = 0.0
        j = 0
        while (j < len) {
          val y = c.getDouble(j)
          dot += v(j) * y; nc += y * y
          j += 1
        }
        val s = dot / (nv * math.sqrt(nc))
        sims(i) = if (java.lang.Double.isNaN(s)) -2.0 else s
        i += 1
      }
      // stable insertion sort of indices by sim desc (nlist is small)
      val idx = Array.range(0, n)
      i = 1
      while (i < n) {
        val cur = idx(i); val curSim = sims(cur)
        var k = i - 1
        while (k >= 0 && sims(idx(k)) < curSim) { idx(k + 1) = idx(k); k -= 1 }
        idx(k + 1) = cur
        i += 1
      }
      new GenericArrayData(idx.map(x => x: Any))
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): CentroidRanks =
      copy(left = l, right = r)
  }

  /** Binary-search helper behind [[BoundRank]]; public so generated
    * Java can call the static forwarder directly.
    */
  def boundRankJ(bnds: ArrayData, v: Double): Int = {
    var lo = 0
    var hi = bnds.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bnds.getDouble(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Count of ascending-sorted boundaries at-or-below v — the
    * searchsorted / upper-bound primitive behind count-balanced
    * bucketing ([[graft.ops.SpineRank.balancedBuckets]]): one static
    * binary-search call per row inside whole-stage codegen. The HOF
    * spelling `size(filter(bnds, b -> b <= v))` evaluates an
    * interpreted lambda per ELEMENT and breaks the codegen span —
    * measured ~1.5 s slower on agg_quantiles_bucketed at sf0.1.
    */
  case class BoundRank(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = IntegerType
    override def prettyName: String = "bound_rank"

    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      (left.dataType, right.dataType) match {
        // containsNull boundaries are REJECTED, not tolerated:
        // boundRankJ reads via ArrayData.getDouble, which yields 0.0
        // for a null element — a null boundary would silently shift
        // bucket assignment. Unreachable from percentile_approx
        // output, but the function is SQL-registered and callable
        // with arbitrary arrays (r7 ADVICE).
        case (ArrayType(DoubleType, false), DoubleType) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"bound_rank expects (array<double> with non-null elements, double), got $other")
      }

    override protected def nullSafeEval(a: Any, b: Any): Any =
      TextExpressions.boundRankJ(a.asInstanceOf[ArrayData], b.asInstanceOf[Double])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        (a, v) => s"graft.functions.TextExpressions.boundRankJ($a, $v)")

    override protected def withNewChildrenInternal(l: Expression, r: Expression): BoundRank =
      copy(left = l, right = r)
  }

  /** One-pass helper behind [[RollingHash]]; public so generated Java
    * can call the static forwarder directly.
    */
  def rollingHashJ(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    h
  }

  /** Polynomial rolling hash h = (h·31 + codepoint) mod 1e9+7 over the
    * string's code points, one pass, whole-stage-codegen'd (a single
    * static call per row).
    *
    * Replaces `aggregate(transform(sequence(1, length(norm)), i ->
    * ascii(substr(norm, i, 1))), ...)`: the HOF form evaluates
    * interpreted, materializes a len-sized array per row, re-runs the
    * inlined normalization subtree per ELEMENT (O(len²) regex work —
    * the exact CollapseProject pitfall this file's header documents),
    * and `substr(i, 1)` itself is an O(i) byte scan on UTF8String.
    * Per-character semantics = Unicode code point, matching DuckDB's
    * `ascii(substring(s, i, 1))` (the oracle) on any input; Spark's
    * own `ascii` agrees on this corpus (verified ASCII-only at
    * sf0.01/0.1), so the swap is hash-exact under the oracle.
    */
  case class RollingHash(child: Expression) extends UnaryExpression {

    override def dataType: DataType = LongType
    override def prettyName: String = "rolling_hash"

    override protected def nullSafeEval(input: Any): Any =
      TextExpressions.rollingHashJ(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.TextExpressions.rollingHashJ($c)")

    override protected def withNewChildInternal(newChild: Expression): RollingHash =
      copy(child = newChild)
  }

  // ---------------------------------------------- Column API (via registry)

  /** Deletion-neighborhood blocking keys (string + distinct del-1 set). */
  def del1Keys(text: Column): Column =
    call_function("del_keys", text, lit(1))

  /** k-deletion-neighborhood blocking keys (FastSS general form). */
  def delKeys(text: Column, k: Int): Column =
    call_function("del_keys", text, lit(k))

  /** Distinct word n-gram shingles of normalized text (one pass). */
  def wordShingles(text: Column, n: Int): Column =
    call_function("word_shingles", text, lit(n))

  /** One-pass 64-bit SimHash of a string-feature array. */
  def simHash64(features: Column): Column =
    call_function("simhash64", features)

  /** One-pass MinHash signature vector (nPerm chained-xxhash64 mins). */
  def minHashSigs(features: Column, nPerm: Int): Column =
    call_function("minhash_sigs", features, lit(nPerm))

  /** Codegen'd cosine similarity of two double vectors. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Map-only centroid ranking (0-based indices, cosine desc). */
  def centroidRanks(v: Column, cents: Column): Column =
    call_function("centroid_ranks", v, cents)

  /** One-pass polynomial rolling hash (code points, mod 1e9+7). */
  def rollingHash(text: Column): Column =
    call_function("rolling_hash", text)

  /** Codegen'd searchsorted: #(sorted boundaries ≤ v). */
  def boundRank(bnds: Column, v: Column): Column =
    call_function("bound_rank", bnds, v)
}
