package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the portable 31-polynomial string hash
  * mod 1e9+7 (the shingle/fingerprint hash of the dedup suites).
  *
  * Why a custom `Expression` instead of the higher-order-function fold in
  * [[TextFunctions.polyHash]]: HOF lambdas evaluate interpreted per
  * element (a `split('')` + per-character lambda allocates and dispatches
  * for every character), which measured ~5.8 s for 260k shingles at
  * sf0.1. This expression participates in whole-stage codegen — the
  * generated code makes one static JVM call per row and loops over code
  * points with no allocation.
  *
  * Semantics: fold over UNICODE CODE POINTS, `(acc*31 + cp) % 1e9+7`,
  * exactly DuckDB's `list_transform(string_split(s,''), unicode)` fold —
  * the oracle mirror ([[TextFunctions.duckPolyHash]]) by construction.
  * (The HOF variant matches only for BMP text because Spark's
  * `split('')` cuts UTF-16 code units; for the ASCII fixtures all three
  * agree.)
  *
  * Registered as SQL function `graft_polyhash` either through
  * [[GraftExtensions]] (`spark.sql.extensions` — the reference-free
  * extension route) or imperatively via [[GraftFunctions.registerAll]].
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_polyhash requires a string argument, got ${child.dataType}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_polyhash"

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHash.hash($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  final val Mod = 1000000007L

  /** Static hot loop invoked from generated code: no lambda dispatch,
    * no allocation beyond the UTF8String→String decode. */
  def hash(s: String): Long = {
    var acc = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * 31 + cp) % Mod
    }
    acc
  }
}

/** Word k-shingles of the lowercased text as a codegen'd expression —
  * space-joined k-grams of the single-space-separated word list, exactly
  * [[TextFunctions.shingles]] (which builds the same thing from
  * `transform(sequence(...), concat_ws(...))` HOF lambdas, measured ~4 s
  * interpreted for 5000 docs at sf0.1). One static call per row; the
  * word array and every shingle are UTF8String ops with no regex and no
  * lambda dispatch. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType] && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles requires (string, k>=1), got (${child.dataType}, $k)")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.build(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.build($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  private val Space = UTF8String.fromString(" ")

  /** Static hot loop invoked from generated code. Mirrors
    * `transform(sequence(1, n-k+1), i -> concat_ws(' ', w[i..i+k-1]))`
    * over `split(lower(text), ' ')` (regex split, limit -1 — empties
    * kept exactly like Spark's split). */
  def build(s: UTF8String, k: Int): ArrayData = {
    val words = s.toLowerCase.split(Space, -1)
    val n = words.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var i = 0
    while (i <= n - k) {
      out(i) = UTF8String.concatWs(Space, java.util.Arrays.copyOfRange(words, i, i + k): _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Dot product of two numeric arrays as a codegen'd expression —
  * replaces the `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, +)` HOF
  * chain used by the similarity/dedup suites. HOF lambdas evaluate
  * interpreted per element (two lambda dispatches and a zipped-array
  * allocation per pair); this expression makes one static call per row
  * and loops over the unsafe array data with no allocation. Summation
  * order is the same sequential left-to-right fold as the HOF chain and
  * DuckDB's list_cosine_similarity loop, so results stay bit-identical.
  *
  * Accepts float or double element types (float promotes exactly).
  * Arrays must be null-free (embedding vectors are); a length mismatch
  * folds over the common prefix, like zip_with-with-nulls would not —
  * lengths are equal for every caller (fixed-dim embeddings). */
case class ArrayDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(t, _) => t == org.apache.spark.sql.types.DoubleType ||
      t == org.apache.spark.sql.types.FloatType
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires two float/double arrays, got (${left.dataType}, ${right.dataType})")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType ==
      org.apache.spark.sql.types.FloatType

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayDot.dot($a, $b, ${isFloat(left)}, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  /** Static hot loop invoked from generated code. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }
}

/** 2-D Z-order (Morton) curve value as a codegen'd expression — the
  * clustering key behind multi-dimensional data skipping (Delta's
  * `OPTIMIZE ZORDER BY` analog). Interleaves the low 16 bits of two
  * integral columns so range-partitioning + in-file sorting on the
  * result gives BOTH dimensions sub-linear per-file min/max spans
  * (a linear sort narrows only its own leading column). The bit
  * formula is plain integer arithmetic, mirrored term-for-term in the
  * DuckDB oracle SQL ([[ZOrder2.duckSql]]). */
case class ZOrder2(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  private def intLike(dt: DataType): Boolean =
    dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.IntegerType ||
      dt == org.apache.spark.sql.types.ShortType

  override def checkInputDataTypes(): TypeCheckResult =
    if (intLike(left.dataType) && intLike(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zorder requires two integral arguments, got (${left.dataType}, ${right.dataType})")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  private def asLong(e: Expression, v: Any): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
    case s: java.lang.Short => s.toLong
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ZOrder2.z(asLong(left, a), asLong(right, b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ZOrder2.z((long)$a, (long)$b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

object ZOrder2 {
  /** Static hot loop invoked from generated code: interleave the low
    * 16 bits (x → even positions, y → odd). */
  def z(x: Long, y: Long): Long = {
    val xm = x & 0xFFFFL
    val ym = y & 0xFFFFL
    var r = 0L
    var i = 0
    while (i < 16) {
      r |= ((xm >> i) & 1L) << (2 * i)
      r |= ((ym >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }

  /** The identical formula as DuckDB SQL (32 disjoint-bit terms summed);
    * fully parenthesized so operator precedence cannot differ. */
  def duckSql(xCol: String, yCol: String): String = {
    val terms =
      (0 until 16).map(i =>
        s"(((($xCol & 65535) >> $i) & 1) << ${2 * i})") ++
      (0 until 16).map(i =>
        s"(((($yCol & 65535) >> $i) & 1) << ${2 * i + 1})")
    terms.mkString("(", " + ", ")")
  }
}

/** n-ary Z-order (Morton) curve value, 1–4 dimensions — the clustering
  * key behind `OPTIMIZE … ZORDER BY (a, b, c[, d])`. Generalizes
  * [[ZOrder2]]'s layout: bit `i` of dimension `d` lands at position
  * `i * n + d`, so the 2-ary case is bit-identical to ZOrder2 and every
  * dimension gets the same interleaving weight. 16 low bits per
  * dimension (the lattice the ZORDER and CLUSTER rewrites of
  * [[graft.sources.SnapshotTable.optimize]] normalize to); 4 × 16 = 64
  * bits is the Long's capacity and the practical ZORDER dimension bound
  * Delta documents. Codegen'd — the rewrite job's hot loop stays in
  * whole-stage codegen. */
case class ZOrderN(children: Seq[Expression]) extends Expression {

  private def intLike(dt: DataType): Boolean =
    dt == org.apache.spark.sql.types.LongType ||
      dt == org.apache.spark.sql.types.IntegerType ||
      dt == org.apache.spark.sql.types.ShortType

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.isEmpty || children.size > 4)
      TypeCheckResult.TypeCheckFailure(
        s"graft_zorder takes 1 to 4 arguments, got ${children.size}")
    else if (children.forall(c => intLike(c.dataType)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_zorder requires integral arguments, got (" +
        children.map(_.dataType).mkString(", ") + ")")

  override def dataType: DataType = LongType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = "graft_zorder"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = new Array[Long](children.size)
    var i = 0
    while (i < children.size) {
      val v = children(i).eval(input)
      if (v == null) return null
      vals(i) = v.asInstanceOf[Number].longValue()
      i += 1
    }
    ZOrderN.z(vals)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val evals = children.map(_.genCode(ctx))
    val arr = ctx.freshName("zdims")
    val setup = evals.zipWithIndex.map { case (e, i) =>
      s"""
      ${e.code}
      if (${e.isNull}) { ${ev.isNull} = true; }
      else { $arr[$i] = (long) ${e.value}; }"""
    }.mkString("\n")
    ev.copy(code = code"""
      boolean ${ev.isNull} = false;
      long[] $arr = new long[${children.size}];
      long ${ev.value} = 0L;
      ${setup}
      if (!${ev.isNull}) { ${ev.value} = graft.functions.ZOrderN.z($arr); }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ZOrderN = copy(children = newChildren)
}

object ZOrderN {
  /** Bits interleaved per dimension: 16 up to three dims; 15 for four —
    * 16×4 would land dim 3's top bit on bit 63 (the Long sign bit),
    * making half the curve NEGATIVE and inverting the signed ordering
    * repartitionByRange/sortWithinPartitions cluster by. Dropping the
    * LOW bit (keep the 15 most significant of the 16-bit lattice) costs
    * only the finest lattice step, never the coarse clustering. */
  def bitsFor(n: Int): Int = if (n >= 4) 15 else 16

  /** Static hot loop invoked from generated code: round-robin interleave
    * the top `bitsFor(n)` bits of every dimension's 16-bit lattice value
    * (dim d's bit i → i*n + d). Result is always non-negative. */
  def z(xs: Array[Long]): Long = {
    val n = xs.length
    val bits = bitsFor(n)
    val drop = 16 - bits
    var r = 0L
    var d = 0
    while (d < n) {
      val m = (xs(d) & 0xFFFFL) >> drop
      var i = 0
      while (i < bits) {
        r |= ((m >> i) & 1L) << (i * n + d)
        i += 1
      }
      d += 1
    }
    r
  }

  /** The identical formula as DuckDB SQL (disjoint-bit terms summed). */
  def duckSql(cols: Seq[String]): String = {
    val n = cols.size
    val bits = bitsFor(n)
    val drop = 16 - bits
    val terms = cols.zipWithIndex.flatMap { case (c, d) =>
      (0 until bits).map(i =>
        s"((((($c & 65535) >> $drop) >> $i) & 1) << ${i * n + d})")
    }
    terms.mkString("(", " + ", ")")
  }
}

/** Imperative registration for sessions not built with the extension
  * (idempotent; used by operator builds so they work in any session). */
object GraftFunctions {
  private def intLit(e: Expression): Int =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].intValue()

  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "graft_polyhash", exprs => PolyHash(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_shingles", exprs => WordShingles(exprs.head, intLit(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction(
      "graft_dot", exprs => ArrayDot(exprs.head, exprs(1)), "built-in")
    // 2-ary keeps the dedicated ZOrder2 (bit-identical layout; its
    // duckSql mirror anchors the oracle gate); other arities take the
    // n-ary generalization
    reg.createOrReplaceTempFunction(
      "graft_zorder", exprs =>
        if (exprs.size == 2) ZOrder2(exprs.head, exprs(1))
        else ZOrderN(exprs), "built-in")
  }
}

/** `spark.sql.extensions` entry point: injects the engine's SQL
  * functions, the maintenance-verb parser (`OPTIMIZE` / `VACUUM` /
  * `DESCRIBE HISTORY` — graft.plans.GraftSqlParser), the strategy
  * that executes those commands, and the optimizer rule that lets
  * filtered scalar subqueries share one scan
  * (graft.plans.MergeFilteredSubqueries), into every session derived
  * from the config — the SparkSessionExtensions route from SURVEY.md §5. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectParser((_, delegate) =>
      new graft.plans.GraftSqlParser(delegate))
    ext.injectPlannerStrategy(_ => graft.plans.GraftMaintenanceStrategy)
    // filtered scalar subqueries over one relation share one scan
    ext.injectPreCBORule(_ => graft.plans.MergeFilteredSubqueries)
    // `SELECT … FROM graft.`/path`` — path-addressed batch reads
    ext.injectResolutionRule(spark =>
      new graft.plans.GraftPathTableResolution(spark))
    // Delta's CDF TVF spelling: table_changes('t', start[, end])
    ext.injectTableFunction((
      new FunctionIdentifier("table_changes"),
      new ExpressionInfo(graft.plans.GraftTableChanges.getClass.getName,
        "table_changes"),
      (exprs: Seq[Expression]) => graft.plans.GraftTableChanges.build(exprs)))
    // SQL face of row tracking: current rows + stable row ids
    ext.injectTableFunction((
      new FunctionIdentifier("table_row_ids"),
      new ExpressionInfo(graft.plans.GraftTableRowIds.getClass.getName,
        "table_row_ids"),
      (exprs: Seq[Expression]) => graft.plans.GraftTableRowIds.build(exprs)))
    ext.injectFunction((
      new FunctionIdentifier("graft_polyhash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_polyhash"),
      (exprs: Seq[Expression]) => PolyHash(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs.head,
        exprs(1).asInstanceOf[Literal].value.asInstanceOf[Number].intValue())))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "graft_dot"),
      (exprs: Seq[Expression]) => ArrayDot(exprs.head, exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrder2].getName, "graft_zorder"),
      (exprs: Seq[Expression]) =>
        if (exprs.size == 2) ZOrder2(exprs.head, exprs(1))
        else ZOrderN(exprs)))
  }
}
