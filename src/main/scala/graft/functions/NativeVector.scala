package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for float-vector dot product.
  *
  * The built-in route (`aggregate(zip_with(...))`) allocates an
  * intermediate array and evaluates lambdas interpreted — fine for
  * occasional use, hot-loop-hostile for kNN over millions of pairs. This
  * expression generates a tight primitive loop inside whole-stage
  * codegen (doGenCode), reading float or double elements directly from
  * the columnar ArrayData (getter picked from the resolved child type).
  * Chosen by benchmark, per SURVEY.md §4.4: the only custom
  * Expression in the engine.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // Element getters are chosen from the RESOLVED child types — an
  // array<double> input read through getFloat would silently return
  // garbage (4-byte reads against 8-byte slots), so anything that is
  // not array<float|double> is rejected at analysis time, loudly.
  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => t
    case other => throw new IllegalArgumentException(
      s"float_dot expects array<float> or array<double>, got $other")
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"float_dot expects array<float|double> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // a silently truncated dot on mismatched dims would produce a
    // plausible-but-wrong similarity; surface the data bug instead
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"float_dot: mismatched vector lengths $n vs ${y.numElements()}")
    val lDouble = elemType(left) == DoubleType
    val rDouble = elemType(right) == DoubleType
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rDouble) y.getDouble(i) else y.getFloat(i).toDouble
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val getA = if (elemType(left) == DoubleType) "getDouble" else "getFloat"
      val getB = if (elemType(right) == DoubleType) "getDouble" else "getFloat"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "float_dot: mismatched vector lengths " + $n + " vs " + $b.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.$getA($i) * (double) $b.$getB($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count of common elements between two SORTED long arrays (two-pointer
  * merge, codegen'd — no hash table, no result-array allocation). The
  * workhorse of set-similarity joins: |A∩B| for Jaccard over sorted
  * distinct token hashes. Callers must pre-sort (array_sort). */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 32-bit SimHash from an array of 64-bit token hashes: bit b of the
  * result is set iff Σ_tokens (2·bit_b(h)−1) > 0. The expression form
  * (one fold allocating a 32-long vote array per token via zip_with)
  * is interpreted and allocation-heavy; this is a two-level primitive
  * loop in codegen with a local int[32]. */
case class SimHash32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(a: Any): Any = {
    val hs = a.asInstanceOf[ArrayData]
    val votes = new Array[Int](32)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 32) {
        if (((h >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    java.lang.Long.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i"); val b = ctx.freshName("b")
      val h = ctx.freshName("h"); val sig = ctx.freshName("sig")
      s"""
         |int[] $votes = new int[32];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 32; $b++) {
         |    if ((($h >>> $b) & 1L) != 0L) $votes[$b]++; else $votes[$b]--;
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 32; $b++) { if ($votes[$b] > 0) $sig |= (1L << $b); }
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass token-class census over a string: maximal [a-z]+ runs,
  * maximal [0-9]+ runs, and characters outside [a-z0-9\s] — the exact
  * counts `regexp_count(t, '[a-z]+') / '[0-9]+' / '[^a-z0-9\s]'`
  * produce, without the three java.util.regex scans (q60 was the
  * heavy battery's largest pure-CPU cost: per-row regex is ~linear in
  * corpus bytes × passes, and this fuses the passes into one branchy
  * byte loop). Whitespace is the ASCII regex \s set (space, \t \n \x0B
  * \f \r) in BOTH java.util.regex and RE2's default — the DuckDB
  * oracle keeps the regexp form, so the gate proves the loop and the
  * three regexes agree character class by character class. Non-ASCII
  * code points (multi-byte UTF-8) match [^a-z0-9\s] in both engines:
  * counted as `other`, one per code point, and they break runs. */
case class TokenClassCounts(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = TokenClassCounts.schema

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_class_counts expects a string, got ${child.dataType}")
  }

  override def nullSafeEval(s: Any): Any =
    TokenClassCounts.count(s.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenClassCounts.count($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenClassCounts {
  val schema: StructType = StructType(Seq(
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_num", LongType, nullable = false),
    StructField("n_other", LongType, nullable = false)))

  /** The fused loop (static so codegen and interpreted eval share it;
    * JIT compiles it once). Byte-level walk: ASCII classifies directly,
    * a multi-byte lead counts one `other` code point and skips its
    * continuation bytes. */
  def count(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = s.numBytes()
    var i = 0
    var alpha = 0L; var num = 0L; var other = 0L
    var inAlpha = false; var inNum = false
    while (i < n) {
      val b = s.getByte(i) & 0xFF
      if (b < 0x80) {
        if (b >= 'a' && b <= 'z') {
          if (!inAlpha) alpha += 1
          inAlpha = true; inNum = false
        } else if (b >= '0' && b <= '9') {
          if (!inNum) num += 1
          inNum = true; inAlpha = false
        } else {
          inAlpha = false; inNum = false
          if (!(b == ' ' || (b >= '\t' && b <= '\r'))) other += 1
        }
        i += 1
      } else {
        inAlpha = false; inNum = false
        other += 1
        i += (if (b >= 0xF0) 4 else if (b >= 0xE0) 3 else 2)
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](alpha, num, other))
  }
}

/** Single-pass per-document n-gram census: (total, distinct, top count)
  * over the space-joined n-grams of a token array — the three numbers
  * Gopher-style repetition filters need (dup fraction, top fraction).
  *
  * The composable form (explode n-gram structs → groupBy(doc, n, gram)
  * → groupBy(doc, n) → pivot) shuffles EVERY GRAM of the corpus twice
  * for what is a per-row computation: at 100 TB that shuffle is the
  * whole job. This expression computes all three statistics in one
  * local pass (map-side, zero exchanges), inside whole-stage codegen.
  *
  * Exactness: grams are counted by their TOKEN-ID sequences, not the
  * joined strings — valid because tokens are produced by `\s+` splits
  * and so contain no whitespace, making "join with space" injective on
  * token sequences (the DuckDB oracle counts the joined strings; both
  * counts are the same partition of gram positions). Gram positions
  * mirror the composed form exactly: i ∈ [0, max(len−n, 0)], the tail
  * grams clipped by the slice, a 0-length array yielding the single
  * empty gram. */
case class NgramStats(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = NgramStats.schema

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ngram_stats expects (array<string>, int), got ${l.simpleString}, ${r.simpleString}")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    NgramStats.stats(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.NgramStats.stats($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NgramStats {
  val schema: StructType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("distinct", LongType, nullable = false),
    StructField("top", LongType, nullable = false)))

  /** Shared by interpreted eval and codegen (JIT compiles it once).
    *
    * Two-phase: intern tokens to dense ids via one hash map (exact —
    * id equality IS string equality), then count gram KEYS in an
    * open-addressed long→count table. A gram key packs the (id+1)
    * sequence into one long (0 = past-the-end padding for clipped tail
    * grams), so n=2 always fits (31 bits/id) and n=3 fits while a doc
    * has < 2²¹ distinct tokens; wider grams or absurdly diverse docs
    * fall back to counting the joined UTF8String keys — same numbers,
    * no silent cap. */
  def stats(toks: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    require(n >= 1, s"ngram_stats: gram order must be >= 1, got $n")
    val len = toks.numElements()
    if (len == 0) return row(1L, 1L, 1L) // the single empty gram
    val total = math.max(len - n, 0) + 1
    val bitsPerId = if (n <= 2) 31 else 63 / n
    // intern tokens; null elements count as "" (concat_ws parity is
    // unreachable — \s+ split arrays carry no nulls — but never NPE)
    val ids = new Array[Int](len)
    val intern = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer](len * 2)
    var i = 0
    while (i < len) {
      val t = toks.getUTF8String(i)
      val key = if (t == null) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8 else t
      val seen = intern.get(key)
      if (seen == null) { ids(i) = intern.size(); intern.put(key, ids(i)) }
      else ids(i) = seen.intValue()
      i += 1
    }
    if (intern.size() + 1 < (1 << bitsPerId)) packedCount(ids, len, n, total, bitsPerId)
    else stringCount(toks, len, n, total)
  }

  private def row(total: Long, distinct: Long, top: Long) =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](total, distinct, top))

  private def packedCount(ids: Array[Int], len: Int, n: Int, total: Int,
                          bitsPerId: Int): org.apache.spark.sql.catalyst.InternalRow = {
    // open addressing, power-of-two capacity >= 2*total, keys never 0
    // (the leading id+1 is >= 1)
    var cap = 4
    while (cap < total * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val counts = new Array[Int](cap)
    val mask = cap - 1
    var distinct = 0L
    var top = 0L
    var i = 0
    while (i < total) {
      var key = 0L
      var j = 0
      while (j < n) {
        val id = if (i + j < len) ids(i + j) + 1 else 0
        key = (key << bitsPerId) | id.toLong
        j += 1
      }
      var slot = (scramble(key) & mask).toInt
      while (keys(slot) != 0L && keys(slot) != key) slot = (slot + 1) & mask
      if (keys(slot) == 0L) { keys(slot) = key; distinct += 1 }
      counts(slot) += 1
      if (counts(slot) > top) top = counts(slot)
      i += 1
    }
    row(total.toLong, distinct, top)
  }

  private def scramble(key: Long): Long = {
    val h = key * 0x9E3779B97F4A7C15L
    h ^ (h >>> 32)
  }

  private def stringCount(toks: ArrayData, len: Int, n: Int,
                          total: Int): org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.unsafe.types.UTF8String
    val space = UTF8String.fromString(" ")
    val m = new java.util.HashMap[UTF8String, Array[Int]](total * 2)
    var distinct = 0L
    var top = 0L
    var i = 0
    while (i < total) {
      val parts = new Array[UTF8String](math.min(n, len - i))
      var j = 0
      while (j < parts.length) {
        val t = toks.getUTF8String(i + j)
        parts(j) = if (t == null) UTF8String.EMPTY_UTF8 else t
        j += 1
      }
      val g = UTF8String.concatWs(space, parts: _*)
      var c = m.get(g)
      if (c == null) { c = Array(0); m.put(g, c); distinct += 1 }
      c(0) += 1
      if (c(0) > top) top = c(0)
      i += 1
    }
    row(total.toLong, distinct, top)
  }
}

/** Apply ONE BPE merge to a symbol sequence: every non-overlapping
  * adjacent (left, right) occurrence, scanned left to right, fuses into
  * the concatenated symbol — the inner loop of byte-pair-encoding
  * tokenizer training (Sennrich et al. 2016, public). One merge round
  * evaluates this once per distinct word; a higher-order-function form
  * would be an interpreted per-element fold (the HOF-staging trap), so
  * the walk is a codegen'd helper call like token_class_counts. */
case class BpeMergePair(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), StringType, StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"bpe_merge expects (array<string>, string, string), got " +
          s"${a.simpleString}, ${b.simpleString}, ${c.simpleString}")
    }
  }

  override def nullSafeEval(syms: Any, a: Any, b: Any): Any =
    BpeMergePair.merge(syms.asInstanceOf[ArrayData],
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, a, b) =>
      s"${ev.value} = graft.functions.BpeMergePair.merge($s, $a, $b);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object BpeMergePair {
  import org.apache.spark.unsafe.types.UTF8String

  /** Left-to-right non-overlapping fuse (shared by interpreted + codegen
    * eval): "aaa" under merge (a,a) → ["aa","a"], the BPE contract. */
  def merge(syms: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = syms.numElements()
    val out = new Array[UTF8String](n)
    var i = 0
    var o = 0
    while (i < n) {
      val cur = syms.getUTF8String(i)
      if (i + 1 < n && a.equals(cur) && b.equals(syms.getUTF8String(i + 1))) {
        out(o) = UTF8String.concat(a, b)
        i += 2
      } else {
        out(o) = cur
        i += 1
      }
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], o))
  }
}

/** Apply a WHOLE TRAINED MERGE TABLE to one word's symbol sequence —
  * the tokenizer-application half of BPE (encode, not train). Per word:
  * repeatedly find the adjacent pair with the LOWEST merge rank present
  * and fuse its occurrences left-to-right, until no adjacent pair is in
  * the table. The pick is the lowest-ranked pair STRICTLY ABOVE the
  * last processed rank, which makes the walk EXACTLY the rank-order
  * replay of the table (one bpe_merge pass per rank — BpeSpec proves
  * parity against the chained fold, including on tables whose merge
  * OUTPUTS collide, where an unconstrained greedy lowest-rank-present
  * walk diverges: fusing a higher-ranked collision route can re-enable
  * an already-passed lower rank that replay, by definition, never
  * revisits). Skipped ranks whose pair is absent cost nothing, so the
  * walk is O(len²) per word independent of table size —
  * ONE expression evaluation per word instead of K chained
  * projections — the only shape that survives a 32K-merge vocabulary
  * (32K nested projections die in analysis long before execution; see
  * the round-10 AQE-explain note). The merge table rides in as a
  * FOLDABLE literal; the rank map is built once per executor via the
  * expression reference object, never per row. */
case class BpeApply(first: Expression, second: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (first.dataType, second.dataType) match {
      case (ArrayType(StringType, _),
            ArrayType(StructType(Array(af, bf)), _))
          if af.dataType == StringType && bf.dataType == StringType =>
        if (second.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "bpe_apply merge table must be a literal (foldable)")
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"bpe_apply expects (array<string>, array<struct<string,string>>), " +
          s"got ${a.simpleString}, ${b.simpleString}")
    }
  }

  /** rank map, built ONCE from the foldable literal (driver + one lazy
    * init per deserialized executor copy). Key = left NUL right —
    * written as an escape, and impossible inside any token symbol. */
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    val arr = second.eval(null).asInstanceOf[ArrayData]
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getStruct(i, 2)
      val key = s.getUTF8String(0).toString + "\u0000" + s.getUTF8String(1).toString
      if (!m.containsKey(key)) m.put(key, i) // first (lowest) rank wins
      i += 1
    }
    m
  }

  def run(syms: ArrayData): ArrayData = BpeApply.run(syms, ranks)

  override def nullSafeEval(syms: Any, mergesIgnored: Any): Any =
    run(syms.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeApplyExpr", this,
      classOf[BpeApply].getName)
    nullSafeCodeGen(ctx, ev, (s, _) => s"${ev.value} = $ref.run($s);")
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(first = l, second = r)
}

object BpeApply {
  import org.apache.spark.unsafe.types.UTF8String

  private def rankOf(ranks: java.util.HashMap[String, Integer],
                     a: UTF8String, b: UTF8String): Int = {
    val r = ranks.get(a.toString + "\u0000" + b.toString)
    if (r == null) Int.MaxValue else r.intValue()
  }

  def run(syms: ArrayData, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    var arr = new Array[UTF8String](syms.numElements())
    var i = 0
    while (i < arr.length) {
      val e = syms.getUTF8String(i)
      if (e == null) throw new IllegalArgumentException(
        "bpe_apply: null symbol element (symbol arrays must be non-null)")
      arr(i) = e
      i += 1
    }
    var done = arr.length < 2
    var rPrev = -1 // replay position: ranks are processed ascending, once
    while (!done) {
      // lowest-ranked adjacent pair NOT yet passed by the replay
      var best = Int.MaxValue
      var bi = -1
      i = 0
      while (i < arr.length - 1) {
        val r = rankOf(ranks, arr(i), arr(i + 1))
        if (r > rPrev && r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        // fuse ALL left-to-right non-overlapping occurrences of that
        // pair — identical to one bpe_merge round for this pair
        val a = arr(bi); val b = arr(bi + 1)
        val out = new Array[UTF8String](arr.length)
        var o = 0
        i = 0
        while (i < arr.length) {
          if (i + 1 < arr.length && a.equals(arr(i)) && b.equals(arr(i + 1))) {
            out(o) = UTF8String.concat(a, b); i += 2
          } else { out(o) = arr(i); i += 1 }
          o += 1
        }
        arr = java.util.Arrays.copyOf(out, o)
        rPrev = best
        done = arr.length < 2
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      arr.asInstanceOf[Array[AnyRef]])
  }
}

/** Native PQ encode: the per-subspace argmax of (x·c − ‖c‖²/2) over a
  * bounded codebook, emitted as the M int codes directly.
  *
  * The expression form (round 9-15: per subspace, `transform` over the
  * codebook LITERAL + array_max + array_position) evaluates correctly
  * but ALLOCATES the k-double score array per subspace per row —
  * m=8 × k=256 ≈ 16 KB of garbage per encoded vector. At gate scale
  * (≤ 100 K vectors) that is noise; at the round-16 sf25 scale point
  * (15 M vectors) it is ~250 GB of allocation churn and the encode
  * became GC-bound (measured: the cache build sat at 32 saturated
  * cores for ~an hour without finishing). This is the q60/q62 native-
  * expression doctrine applied to the encode: one JIT-compiled
  * primitive loop, codebooks prepared ONCE into flat arrays (a
  * reference object — never per-row), zero per-row allocation beyond
  * the m-int result.
  *
  * Exact-parity contract with the replaced expression (PqSpec pins it
  * bit-for-bit): scores are the same in-order double accumulation
  * (float×float promoted) minus the same driver-computed ‖c‖²/2;
  * argmax takes the FIRST maximum (strict `>` — array_position
  * semantics); a NULL input vector (parked by unitize) yields the same
  * non-null array of M null elements; a wrong-width vector throws
  * loudly (the float_dot mismatch contract). `right` must be a
  * FOLDABLE literal (the codebooks), evaluated once per task. */
case class PqEncodeCodes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val leftOk = left.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val rightOk = right.foldable && (right.dataType match {
      case ArrayType(ArrayType(ArrayType(FloatType, _), _), _) => true
      case _ => false
    })
    if (leftOk && rightOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_encode expects (array<float>, foldable array<array<array<float>>>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString}" +
        s"${if (right.foldable) "" else ", non-foldable"})")
  }

  @transient private lazy val state: PqEncodeCodes.State =
    PqEncodeCodes.prepare(right.eval(null).asInstanceOf[ArrayData])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) PqEncodeCodes.parked(state.m)
    else PqEncodeCodes.encode(v.asInstanceOf[ArrayData], state)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("pqCodebooks", state,
      classOf[PqEncodeCodes.State].getName)
    val l = left.genCode(ctx)
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    ev.copy(
      code = code"""
        ${l.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${l.isNull} ? graft.functions.PqEncodeCodes.parked($st.m())
                      : graft.functions.PqEncodeCodes.encode(${l.value}, $st);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqEncodeCodes {

  /** Codebooks flattened for the hot loop: `cf` is (m, k, subDim)
    * row-major, `hn(j·k + c) = ‖c‖²/2` computed with the exact loop the
    * old literal used. Prepared once per task from the foldable child. */
  final case class State(m: Int, k: Int, subDim: Int, dim: Int,
                         cf: Array[Float], hn: Array[Double])

  def prepare(outer: ArrayData): State = {
    val m = outer.numElements()
    require(m >= 1, "pq_encode: empty codebooks")
    val first = outer.getArray(0)
    val k = first.numElements()
    val subDim = first.getArray(0).numElements()
    val cf = new Array[Float](m * k * subDim)
    val hn = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      val sub = outer.getArray(j)
      require(sub.numElements() == k, "pq_encode: ragged codebooks (k)")
      var c = 0
      while (c < k) {
        val cen = sub.getArray(c)
        require(cen.numElements() == subDim, "pq_encode: ragged codebooks (subDim)")
        var s = 0.0
        var d = 0
        while (d < subDim) {
          val x = cen.getFloat(d)
          cf(((j * k) + c) * subDim + d) = x
          s += x.toDouble * x
          d += 1
        }
        hn(j * k + c) = s / 2.0
        c += 1
      }
      j += 1
    }
    State(m, k, subDim, m * subDim, cf, hn)
  }

  /** Parked row: the SAME shape the old expression produced for a null
    * input — a non-null array of m NULL code elements. */
  def parked(m: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[AnyRef](m))

  def encode(v: ArrayData, st: State): ArrayData = {
    if (v.numElements() != st.dim)
      throw new IllegalArgumentException(
        s"pq_encode: vector has ${v.numElements()} elements, codebooks want ${st.dim}")
    val codes = new Array[Int](st.m)
    var j = 0
    while (j < st.m) {
      var best = 0
      var bestScore = Double.NegativeInfinity
      val base = j * st.k * st.subDim
      var c = 0
      while (c < st.k) {
        var s = 0.0
        val off = base + c * st.subDim
        var d = 0
        while (d < st.subDim) {
          s += v.getFloat(j * st.subDim + d).toDouble * st.cf(off + d)
          d += 1
        }
        s -= st.hn(j * st.k + c)
        if (s > bestScore) { bestScore = s; best = c } // first max wins (array_position parity)
        c += 1
      }
      codes(j) = best
      j += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(codes)
  }
}

/** Native binary-quantization signature packing (round-20 optimization):
  * sign(v·plane_b) for nBits fixed hyperplanes, packed into nBits/64
  * long words — bit i of word w is 1 iff v·plane(w·64+i) > 0 (strictly
  * positive, the `Embeddings.srpBucket` convention), each projection
  * the same in-order double accumulation as [[FloatDotProduct]].
  *
  * The expression-tree form ([[graft.operators.Bq]] round-20 build:
  * 256 × (float_dot over a 64-literal array) under a when-ladder)
  * generated >64 KB of code in one method — Janino refused
  * ("Code grows beyond 64 KB") and EVERY action on a plan containing
  * the encode re-attempted the giant compile (failures are not
  * cached), then fell back to interpreted evaluation: the corpus
  * encode ran interpreted and each q188 arm re-paid the failed
  * compile. One reference-object loop fixes both. Exact-parity
  * contract with the replaced tree (BqSpec pins it bit-for-bit):
  * same per-plane in-order double dot, same strict `> 0` sign, same
  * NULL result for a null or wrong-width vector. `right` must be a
  * FOLDABLE literal (the planes), prepared once per task. */
case class BqPackWords(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val leftOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val rightOk = right.foldable && (right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    })
    if (leftOk && rightOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bq_pack expects (array<float|double>, foldable array<array<double>>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString}" +
        s"${if (right.foldable) "" else ", non-foldable"})")
  }

  private def leftIsDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  @transient private lazy val state: BqPackWords.State =
    BqPackWords.prepare(right.eval(null).asInstanceOf[ArrayData])

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) null
    else BqPackWords.pack(v.asInstanceOf[ArrayData], state, leftIsDouble)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("bqPlanes", state,
      classOf[BqPackWords.State].getName)
    val ld = leftIsDouble
    nullSafeCodeGen(ctx, ev, (v, _) => {
      s"""
         |${ev.value} = graft.functions.BqPackWords.pack($v, $st, $ld);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BqPackWords {

  /** Planes flattened row-major for the hot loop: pf(b*dim + d) =
    * plane(b)(d). Prepared once per task from the foldable child. */
  final case class State(nBits: Int, dim: Int, pf: Array[Double])

  def prepare(outer: ArrayData): State = {
    val nBits = outer.numElements()
    require(nBits >= 64 && nBits % 64 == 0,
      s"bq_pack: nBits must be a positive multiple of 64, got $nBits")
    val dim = outer.getArray(0).numElements()
    val pf = new Array[Double](nBits * dim)
    var b = 0
    while (b < nBits) {
      val p = outer.getArray(b)
      require(p.numElements() == dim, "bq_pack: ragged planes")
      var d = 0
      while (d < dim) { pf(b * dim + d) = p.getDouble(d); d += 1 }
      b += 1
    }
    State(nBits, dim, pf)
  }

  /** Null for a wrong-width vector (the encode's `when(size(v) === dim)`
    * parking contract); otherwise the packed words. */
  def pack(v: ArrayData, st: State, leftIsDouble: Boolean): ArrayData = {
    if (v.numElements() != st.dim) return null
    val words = new Array[Long](st.nBits / 64)
    var b = 0
    while (b < st.nBits) {
      var s = 0.0
      val off = b * st.dim
      var d = 0
      if (leftIsDouble) {
        while (d < st.dim) { s += v.getDouble(d) * st.pf(off + d); d += 1 }
      } else {
        while (d < st.dim) { s += v.getFloat(d).toDouble * st.pf(off + d); d += 1 }
      }
      if (s > 0) words(b >> 6) |= 1L << (b & 63)
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(words)
  }
}

object NativeVector {
  import org.apache.spark.sql.graft.Cols.{expr, of}

  /** Column forms of the native expressions, built directly: no
    * function-registry lookup, so the caller's session is left as is.
    * `GraftExtensions` is the separate SQL-name route. */
  def dot(a: Column, b: Column): Column = of(FloatDotProduct(expr(a), expr(b)))
  def sortedIntersect(a: Column, b: Column): Column =
    of(SortedLongIntersectCount(expr(a), expr(b)))
  def simhash32(a: Column): Column = of(SimHash32(expr(a)))
  def tokenClassCounts(a: Column): Column = of(TokenClassCounts(expr(a)))
  def ngramStats(toks: Column, n: Int): Column =
    of(NgramStats(expr(toks), Literal(n)))
  def bpeMerge(syms: Column, a: Column, b: Column): Column =
    of(BpeMergePair(expr(syms), expr(a), expr(b)))
  def bpeApply(syms: Column, merges: Column): Column =
    of(BpeApply(expr(syms), expr(merges)))
  def pqEncode(vec: Column, centers: Column): Column =
    of(PqEncodeCodes(expr(vec), expr(centers)))
  def bqPack(vec: Column, planes: Column): Column =
    of(BqPackWords(expr(vec), expr(planes)))

  /** cos(a,b) from raw float arrays: dot/(‖a‖·‖b‖), every norm evaluated
    * once per row via the native dot. THE single cosine form — Embeddings
    * (brute force, SRP-LSH) and Ivf (probe rerank) all call this, so
    * their similarity values are bit-equal by construction. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{sqrt, when}
    // zero-norm vectors → undefined cosine: null, not an ANSI
    // divide-by-zero abort of the whole query
    val denom = sqrt(dot(a, a)) * sqrt(dot(b, b))
    when(denom > 0, dot(a, b) / denom)
  }
}
