package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics for the micro-lake — the Spark
  * re-expression of what DuckLake's catalog gives the reference: its
  * CHECKPOINT/maintenance path (maintenance/mod.rs) works against a
  * catalog that knows each data file's column bounds, so a point
  * UPDATE/DELETE/read touches only candidate files instead of paying a
  * footer-and-scan pass over every live file (VERDICT r14 #4: at 100 TB
  * the discovery scan is the DML bottleneck; YCSB measured the symptom
  * as delete 341 ms vs read 77 ms).
  *
  * Stats live only in each data file's parquet FOOTER — no extra Spark
  * job; the writer already computed them. [[MutableTable.statsFor]]
  * keeps them per file once read, and the lake writers hand theirs over
  * as they write: the driver-side writer its closed footer, a
  * Spark-written file its footer read back.
  *
  * [[ColStats]] carries min/max in a canonical string form tagged by a
  * comparison kind; [[FileStats.mayMatch]] is the conservative
  * file-may-contain-a-match evaluator over a predicate expression tree
  * (resolved or unresolved): it only ever returns `false` when the
  * bounds PROVE no row can match, so pruning can never change results.
  */
final case class ColStats(
    kind: Char, // 'L' integer-comparable (int/long/date/ts) | 'D' double | 'S' utf8 | 'B' boolean
    rows: Long, // row count of the file (-1 unknown)
    nulls: Long, // null count for this column (-1 unknown)
    min: Option[String], // canonical string form; absent when the footer had no bound
    max: Option[String])

object FileStats {

  // === footer reading ========================================================

  /** Merged per-column stats for one parquet file, straight off its
    * footer (driver-local metadata read, no job), read through parquet's
    * own NIO input file — no Hadoop file system.
    */
  def fromFooter(file: Path): Map[String, ColStats] = {
    import org.apache.parquet.ParquetReadOptions
    import org.apache.parquet.conf.PlainParquetConfiguration
    import org.apache.parquet.hadoop.ParquetFileReader
    val reader = ParquetFileReader.open(new org.apache.parquet.io.LocalInputFile(file),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
    try fromMetadata(reader.getFooter) finally reader.close()
  }

  /** Merged per-column stats from a parquet footer: read back from a file
    * ([[fromFooter]]) or taken from a just-closed writer. Columns whose
    * physical type has no total order we trust (INT96, fixed decimals,
    * nested) are omitted — absent stats mean "never prune", the safe
    * default.
    */
  def fromMetadata(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Map[String, ColStats] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val perCol = scala.collection.mutable.Map.empty[String, ColStats]
    blocks.flatMap(_.getColumns.asScala).foreach { chunk =>
      val pathParts = chunk.getPath.toArray
      if (pathParts.length == 1) {
        val name = pathParts(0)
        val pt = chunk.getPrimitiveType
        val kind: Option[Char] = pt.getPrimitiveTypeName match {
          case INT32 | INT64
              if !pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] &&
                // UINT32/UINT64 footers carry raw signed bits; signed compare would mis-prune
                (pt.getLogicalTypeAnnotation match {
                  case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
                  case _ => true
                }) => Some('L')
          case FLOAT | DOUBLE => Some('D')
          case BOOLEAN => Some('B')
          case BINARY
              if pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] => Some('S')
          case _ => None
        }
        kind.foreach { k =>
          val st = chunk.getStatistics
          val nulls = if (st != null && st.isNumNullsSet) st.getNumNulls else -1L
          val (mn, mx) =
            if (st == null || !st.hasNonNullValue) (None, None)
            else if (k == 'D') floatBounds(st.genericGetMin, st.genericGetMax)
            else (canonical(k, st.genericGetMin), canonical(k, st.genericGetMax))
          val blockStats = ColStats(k, rows, nulls, mn, mx)
          perCol(name) = perCol.get(name) match {
            case None => blockStats
            case Some(prev) => merge(prev, blockStats)
          }
        }
      }
    }
    perCol.toMap
  }

  /** Float/double bounds as parquet's footer reader rebuilds them (its
    * statistics builder): a NaN bound drops both, and a zero min reads
    * as -0.0 and a zero max as +0.0, so no signed zero is ever pruned. A
    * closed writer's footer holds the raw bounds; applying the same rule
    * here makes its stats equal the file's read-back ones.
    */
  private def floatBounds(min: Any, max: Any): (Option[String], Option[String]) = {
    val lo = min.asInstanceOf[Number].doubleValue
    val hi = max.asInstanceOf[Number].doubleValue
    if (lo.isNaN || hi.isNaN) (None, None)
    else (canonical('D', if (lo == 0.0) -0.0d else lo), canonical('D', if (hi == 0.0) 0.0d else hi))
  }

  /** Canonical string form of a footer min/max value; None for values
    * we must not order on (NaN/Inf doubles — parquet writers' stats are
    * unreliable in NaN presence, the same caveat Spark's own parquet
    * filter pushdown carries).
    */
  private def canonical(kind: Char, v: Any): Option[String] = (kind, v) match {
    case (_, null) => None
    case ('L', n: Number) => Some(n.longValue.toString)
    case ('D', n: Number) =>
      val d = n.doubleValue
      if (d.isNaN || d.isInfinite) None else Some(d.toString)
    case ('B', b: java.lang.Boolean) => Some(b.toString)
    case ('S', b: org.apache.parquet.io.api.Binary) => Some(b.toStringUsingUTF8)
    case _ => None
  }

  private def merge(a: ColStats, b: ColStats): ColStats = {
    def pick(x: Option[String], y: Option[String], lower: Boolean): Option[String] =
      (x, y) match {
        case (Some(p), Some(q)) =>
          val c = compare(a.kind, p, q)
          Some(if ((c <= 0) == lower) p else q)
        case _ => None // one block unbounded -> the file is unbounded
      }
    ColStats(a.kind, a.rows,
      if (a.nulls < 0 || b.nulls < 0) -1L else a.nulls + b.nulls,
      pick(a.min, b.min, lower = true),
      pick(a.max, b.max, lower = false))
  }

  /** Smallest byte string greater than EVERY string with prefix `p`
    * (the exclusive upper bound of the prefix range) under unsigned
    * byte order: increment the last non-0xFF byte and truncate after
    * it; None when p is all-0xFF (no finite bound exists).
    */
  private[sources] def prefixUpperBound(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0) {
      if ((p(i) & 0xFF) != 0xFF) {
        val b = java.util.Arrays.copyOf(p, i + 1)
        b(i) = (b(i) + 1).toByte
        return Some(b)
      }
      i -= 1
    }
    None
  }

  /** Total order on canonical forms per kind. 'S' compares UTF-8 bytes
    * unsigned (UTF8String's order — identical to parquet's unsigned
    * binary stats order, and NOT java.lang.String's UTF-16 order).
    */
  private[sources] def compare(kind: Char, a: String, b: String): Int = kind match {
    case 'L' => java.lang.Long.compare(a.toLong, b.toLong)
    case 'D' => java.lang.Double.compare(a.toDouble, b.toDouble)
    case 'B' => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case _   => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  // === pruning evaluator =====================================================

  /** Three-valued pruning verdict (VERDICT r16 #6): the r16 unsound
    * negated-IN prune lived in the gap between a conservative boolean
    * helper ("true = cannot prune OR don't know") and a negating caller
    * that read the same true as "proven member". The verdict type makes
    * the proof obligation explicit at every return site:
    *  - `May`     — the evaluator REASONED about the bounds and they do
    *                not exclude a qualifying row (keep the file);
    *  - `Prune`   — the bounds PROVE no row qualifies (drop the file);
    *  - `Unknown` — the evaluator could not reason (no stats for the
    *                column, a cross-kind literal, an unhandled shape) —
    *                keep the file, and a negation of Unknown stays
    *                Unknown, never a proof.
    */
  sealed trait Admit
  object Admit {
    case object May extends Admit
    case object Prune extends Admit
    case object Unknown extends Admit
  }

  /** Boolean face of [[admits]] — every consumer (candidateFiles, the
    * driver DML, StatsPruneRule) keeps a file unless the bounds
    * PROVE it empty for the predicate.
    */
  def mayMatch(stats: Map[String, ColStats], e: Expression): Boolean =
    admits(stats, e) != Admit.Prune

  /** The single audited pruning evaluator: may this file contain a row
    * satisfying `e`? `stats` is the file's per-column map
    * (case-insensitive names). Internally two mutually recursive
    * verdicts — `mayTrue(x)` (can a row evaluate x to TRUE) and
    * `mayFalse(x)` (can a row evaluate x to FALSE) — carry negation
    * soundly through any nesting: NOT flips between them instead of
    * re-interpreting a conservative boolean. Three-valued SQL logic is
    * baked into the leaves (a NULL operand row makes a comparison NULL,
    * which is neither TRUE nor FALSE). Sound for both resolved plans
    * (AttributeReference) and the DML router's unresolved `expr(...)`
    * trees (UnresolvedAttribute).
    */
  def admits(stats: Map[String, ColStats], e: Expression): Admit = {
    import Admit._
    if (stats.isEmpty) return Unknown
    val byName = stats.map { case (k, v) => k.toLowerCase -> v }

    // verdict lattice: disjunction of "a qualifying row may exist"
    // claims (used where ANY branch supplying a row keeps the file)
    def orA(a: Admit, b: Admit): Admit = (a, b) match {
      case (May, _) | (_, May) => May
      case (Unknown, _) | (_, Unknown) => Unknown
      case _ => Prune
    }
    // conjunction: every conjunct must admit a row (over-approximation
    // of same-row satisfaction — sound, a file is dropped only when
    // some conjunct alone proves emptiness)
    def andA(a: Admit, b: Admit): Admit = (a, b) match {
      case (Prune, _) | (_, Prune) => Prune
      case (Unknown, _) | (_, Unknown) => Unknown
      case _ => May
    }

    // The analyzer's IN type-coercion wraps EVERY child in a cast, even
    // a no-op one (`k IN (5)` on a bigint k analyzes to
    // `cast(k as bigint) IN (cast(5 as bigint))`). Identity casts and
    // WIDENING numeric casts are order- and value-preserving over the
    // stats kinds ('L' canonicalizes all integrals to long, 'D' all
    // floats to double), so seeing through them is sound; anything
    // narrowing/truncating (double->bigint changes membership) stays
    // opaque. comparand()'s type gate keeps cross-kind literals from
    // ever pruning.
    def intRank(dt: org.apache.spark.sql.types.DataType): Int = dt match {
      case org.apache.spark.sql.types.ByteType => 1
      case org.apache.spark.sql.types.ShortType => 2
      case org.apache.spark.sql.types.IntegerType => 3
      case org.apache.spark.sql.types.LongType => 4
      case _ => -1
    }
    def floatRank(dt: org.apache.spark.sql.types.DataType): Int = dt match {
      case org.apache.spark.sql.types.FloatType => 1
      case org.apache.spark.sql.types.DoubleType => 2
      case _ => -1
    }
    def stripCast(x: Expression): Expression = x match {
      case c: Cast if c.child.dataType == c.dataType => stripCast(c.child)
      case c: Cast
          if intRank(c.child.dataType) > 0 &&
            intRank(c.child.dataType) <= intRank(c.dataType) => stripCast(c.child)
      case c: Cast
          if floatRank(c.child.dataType) > 0 &&
            floatRank(c.child.dataType) <= floatRank(c.dataType) => stripCast(c.child)
      case other => other
    }

    def col(x: Expression): Option[ColStats] = stripCast(x) match {
      case a: AttributeReference => byName.get(a.name.toLowerCase)
      case u: UnresolvedAttribute => byName.get(u.nameParts.last.toLowerCase)
      case _ => None
    }

    // constant side of a comparison: a plain Literal, or any resolved
    // foldable deterministic expression (the analyzer wraps literals in
    // Cast for type promotion — `k = 42` against a bigint column is
    // EqualTo(k, cast(42 as bigint)) until ConstantFolding runs)
    def litOf(x: Expression): Option[Any] = x match {
      case Literal(v, _) => Some(v)
      case _ =>
        try {
          if (x.resolved && x.foldable && x.deterministic) Some(x.eval(null)) else None
        } catch { case _: Exception => None }
    }

    // literal -> canonical comparand for the column's kind; None when
    // the types don't line up (then we cannot prune). NaN/Inf comparands
    // never prune: parquet writers are allowed to OMIT NaN from
    // float/double min/max (Spark's own ParquetFilters refuses NaN
    // pushdown for the same reason), so bounds cannot prove a NaN row
    // absent.
    def comparand(s: ColStats, v: Any): Option[String] = (s.kind, v) match {
      case (_, null) => None
      case ('L', n: Byte) => Some(n.toLong.toString)
      case ('L', n: Short) => Some(n.toLong.toString)
      case ('L', n: Int) => Some(n.toLong.toString)
      case ('L', n: Long) => Some(n.toString)
      case ('D', n: Number) =>
        val d = n.doubleValue
        if (d.isNaN || d.isInfinite) None else Some(d.toString)
      case ('S', u: UTF8String) => Some(u.toString)
      case ('S', str: String) => Some(str)
      case ('B', b: Boolean) => Some(b.toString)
      case _ => None
    }

    // a comparison on an ALL-NULL column matches nothing
    def allNull(s: ColStats): Boolean = s.rows >= 0 && s.nulls == s.rows

    // may the file contain a row with `op(compare(min, v), compare(max, v))`?
    def interval(s: ColStats, v: Any, op: (Int, Int) => Boolean): Admit = {
      if (v == null) return Prune // `col <op> NULL` is never TRUE
      if (allNull(s)) return Prune
      comparand(s, v) match {
        case Some(c) =>
          (s.min, s.max) match {
            case (Some(mn), Some(mx)) =>
              if (op(compare(s.kind, mn, c), compare(s.kind, mx, c))) May else Prune
            case _ => Unknown // unbounded: cannot reason
          }
        case None => Unknown
      }
    }

    def point(s: ColStats, v: Any): Admit =
      interval(s, v, (mn, mx) => mn <= 0 && mx >= 0)

    // null-row / non-null-row existence, off the footer null counts
    // (-1 = writer did not record them)
    def mayNullRow(s: ColStats): Admit =
      if (s.nulls > 0) May else if (s.nulls == 0) Prune else Unknown
    def mayNonNullRow(s: ColStats): Admit =
      if (s.rows < 0 || s.nulls < 0) Unknown
      else if (s.nulls < s.rows) May else Prune

    // the file's single value when min == max (point file — the shape a
    // negated predicate can actually prune on)
    def singlePoint(s: ColStats): Option[String] = (s.min, s.max) match {
      case (Some(mn), Some(mx)) if compare(s.kind, mn, mx) == 0 => Some(mn)
      case _ => None
    }

    // PROOF of membership: the file is single-point AND some literal's
    // comparand is defined and equal to it. Distinct from point(), whose
    // Unknown arm answers "cannot reason" on an unavailable comparand —
    // a NOT must never read that as "proven member" (review finding,
    // round 16: `score NOT IN (5.0, 'inf')` pruned a single-point 7.0
    // file because Infinity's comparand is None).
    def provenMember(s: ColStats, v: Any): Boolean =
      v != null && singlePoint(s).exists(p =>
        comparand(s, v).exists(c => compare(s.kind, p, c) == 0))

    // may the file hold a NON-NULL value != v? (NULL rows evaluate
    // `NOT (col = v)` to NULL, never TRUE, so they cannot save a file)
    def notPoint(s: ColStats, v: Any): Admit = {
      if (v == null) return Prune // NOT(col = NULL) is never TRUE
      if (allNull(s)) return Prune
      comparand(s, v) match {
        case Some(c) => (s.min, s.max) match {
          // min < max proves two distinct non-null values, at most one
          // equals v; a single point prunes only when it IS v
          case (Some(mn), Some(mx)) =>
            if (compare(s.kind, mn, mx) == 0 && compare(s.kind, mn, c) == 0) Prune else May
          case _ => Unknown
        }
        case None => Unknown
      }
    }

    // may the file hold a NON-NULL string NOT starting with `prefix`?
    // Prune only when bounds PROVE every value lies in [p, upper(p)) —
    // which under bytewise order is exactly "starts with p".
    def notPrefixMay(cs: Option[ColStats], v: Option[Any]): Admit = (cs, v) match {
      case (Some(s), Some(p)) if s.kind == 'S' && p != null =>
        if (allNull(s)) return Prune
        val prefix = p match {
          case u: UTF8String => u.toString
          case str: String => str
          case _ => return Unknown
        }
        (s.min, s.max) match {
          case (Some(mn), Some(mx)) =>
            val pb = UTF8String.fromString(prefix)
            val minIn = UTF8String.fromString(mn).compareTo(pb) >= 0
            val maxIn = prefixUpperBound(prefix.getBytes(StandardCharsets.UTF_8)) match {
              case Some(ub) => UTF8String.fromString(mx).compareTo(UTF8String.fromBytes(ub)) < 0
              case None => false // all-0xFF prefix: containment unprovable
            }
            if (minIn && maxIn) Prune else May
          case _ => Unknown
        }
      case _ => Unknown
    }

    // may the file hold a string with the given prefix? [p, upper(p))
    // against the UTF-8 byte-ordered bounds
    def prefixMay(cs: Option[ColStats], v: Option[Any]): Admit = (cs, v) match {
      case (Some(s), Some(p)) if s.kind == 'S' && p != null =>
        if (allNull(s)) return Prune
        val prefix = p match {
          case u: UTF8String => u.toString
          case str: String => str
          case _ => return Unknown
        }
        (s.min, s.max) match {
          case (Some(mn), Some(mx)) =>
            val pb = UTF8String.fromString(prefix)
            if (UTF8String.fromString(mx).compareTo(pb) < 0) Prune
            else prefixUpperBound(prefix.getBytes(StandardCharsets.UTF_8)) match {
              case Some(ub) =>
                if (UTF8String.fromString(mn).compareTo(UTF8String.fromBytes(ub)) < 0) May
                else Prune
              case None => May // all-0xFF prefix: no finite upper bound
            }
          case _ => Unknown
        }
      case _ => Unknown
    }

    // binary comparison with the attribute on EITHER side: `opL` when
    // the attribute is left of the operator, `opR` when it is right
    def cmp2(a: Expression, b: Expression,
        opL: (Int, Int) => Boolean, opR: (Int, Int) => Boolean): Admit =
      (col(a), litOf(b)) match {
        case (Some(s), Some(v)) => interval(s, v, opL)
        case _ => (col(b), litOf(a)) match {
          case (Some(s), Some(v)) => interval(s, v, opR)
          case _ => Unknown
        }
      }

    val eqOp = (mn: Int, mx: Int) => mn <= 0 && mx >= 0

    // verdict over a literal set: May if any member may be present,
    // Prune only when EVERY member is proven absent
    def anyPoint(s: ColStats, vs: Iterable[Any]): Admit =
      vs.foldLeft(Prune: Admit)((acc, v) => orA(acc, point(s, v)))

    // can a row evaluate x to TRUE?
    def mayTrue(x: Expression): Admit = x match {
      case And(l, r) => andA(mayTrue(l), mayTrue(r))
      case Or(l, r) => orA(mayTrue(l), mayTrue(r))
      // op args are compare(bound, literal) signs
      case EqualTo(a, b) => cmp2(a, b, eqOp, eqOp)
      case GreaterThan(a, b) => cmp2(a, b, (_, mx) => mx > 0, (mn, _) => mn < 0)
      case GreaterThanOrEqual(a, b) => cmp2(a, b, (_, mx) => mx >= 0, (mn, _) => mn <= 0)
      case LessThan(a, b) => cmp2(a, b, (mn, _) => mn < 0, (_, mx) => mx > 0)
      case LessThanOrEqual(a, b) => cmp2(a, b, (mn, _) => mn <= 0, (_, mx) => mx >= 0)
      case In(a, vs) => col(a) match {
        case Some(s) if vs.nonEmpty && vs.forall(v => litOf(v).isDefined) =>
          anyPoint(s, vs.map(v => litOf(v).get))
        case _ => Unknown
      }
      // the optimizer rewrites IN-lists above inSetConversionThreshold
      // (default 10) to InSet with an internal-value hash set — the
      // SELECT-path form of a batch key lookup (VERDICT r15 #6); same
      // point-set interval math
      case is: InSet => col(is.child) match {
        case Some(s) if is.hset.nonEmpty => anyPoint(s, is.hset)
        case _ => Unknown
      }
      case IsNull(a) => col(a).map(mayNullRow).getOrElse(Unknown)
      case IsNotNull(a) => col(a).map(mayNonNullRow).getOrElse(Unknown)
      case EqualNullSafe(a, b) =>
        def side(s: ColStats, v: Any): Admit =
          if (v == null) mayNullRow(s) else point(s, v)
        (col(a), litOf(b)) match {
          case (Some(s), Some(v)) => side(s, v)
          case _ => (col(b), litOf(a)) match {
            case (Some(s), Some(v)) => side(s, v)
            case _ => Unknown
          }
        }
      // prefix predicates (the URL-keyed lake pattern): strings with
      // prefix p lie in [p, nextAfterPrefix(p)) under UTF-8 byte order —
      // the file may overlap iff max >= p and min < that upper bound.
      // The optimizer rewrites LIKE 'p%' to StartsWith mid-batch, so the
      // resolved form appears here; the DML path sees the raw Like.
      case StartsWith(a, b) => prefixMay(col(a), litOf(b))
      case l: Like if l.escapeChar == '\\' =>
        litOf(l.right) match {
          case Some(u: UTF8String) =>
            // any LIKE match must BEGIN with the pattern's literal run
            // before the first wildcard (%, _) or escape — prune on that
            // prefix; an empty run (leading wildcard) prunes nothing
            val lit = u.toString.takeWhile(c => c != '%' && c != '_' && c != '\\')
            if (lit.nonEmpty) prefixMay(col(l.left), Some(UTF8String.fromString(lit)))
            else Unknown
          case _ => Unknown
        }
      // BETWEEN and friends analyze to RuntimeReplaceable nodes whose
      // desugared form only appears after the optimizer's
      // ReplaceExpressions — evaluate the replacement directly
      case r: RuntimeReplaceable => mayTrue(r.replacement)
      // ... and the replacement may bind its input through a
      // common-subexpression `With` (Between does, to evaluate the
      // input once): inline the defs so refs become the attribute again
      case w: With => mayTrue(inlineWith(w))
      // negated predicate shapes (VERDICT r15 #6): `col != v` survives
      // the optimizer as Not(EqualTo) and NOT IN as Not(In)/Not(InSet);
      // a row makes NOT(x) TRUE exactly when it makes x FALSE — never
      // when x is NULL (three-valued logic)
      case Not(inner) => mayFalse(inner)
      case _ => Unknown // unknown shape: never prune on it
    }

    // can a row evaluate x to FALSE? The dual verdict: NULL operand
    // rows make comparisons NULL (not FALSE), so they never supply the
    // row; for the range operators ¬(a op b) on non-null operands IS
    // the complementary comparison, evaluated by direct recursion so
    // both verdicts share one set of leaf proofs.
    def mayFalse(x: Expression): Admit = x match {
      case And(l, r) => orA(mayFalse(l), mayFalse(r)) // false when either is
      case Or(l, r) => andA(mayFalse(l), mayFalse(r)) // false only when both
      case EqualTo(a, b) =>
        (col(a), litOf(b)) match {
          case (Some(s), Some(v)) => notPoint(s, v)
          case _ => (col(b), litOf(a)) match {
            case (Some(s), Some(v)) => notPoint(s, v)
            case _ => Unknown
          }
        }
      case GreaterThan(a, b) => mayTrue(LessThanOrEqual(a, b))
      case GreaterThanOrEqual(a, b) => mayTrue(LessThan(a, b))
      case LessThan(a, b) => mayTrue(GreaterThanOrEqual(a, b))
      case LessThanOrEqual(a, b) => mayTrue(GreaterThan(a, b))
      case In(a, vs) => col(a) match {
        case Some(s) if vs.nonEmpty && vs.forall(v => litOf(v).isDefined) =>
          val lits = vs.map(v => litOf(v).get)
          notInVerdict(s, lits)
        case _ => Unknown
      }
      case is: InSet => col(is.child) match {
        case Some(s) if is.hset.nonEmpty => notInVerdict(s, is.hset.toSeq)
        case _ => Unknown
      }
      case IsNull(a) => col(a).map(mayNonNullRow).getOrElse(Unknown)
      case IsNotNull(a) => col(a).map(mayNullRow).getOrElse(Unknown)
      case EqualNullSafe(a, b) =>
        // <=> never evaluates to NULL: with v null a non-null row makes
        // it FALSE; with v non-null a null row OR a differing value does
        def side(s: ColStats, v: Any): Admit =
          if (v == null) mayNonNullRow(s) else orA(mayNullRow(s), notPoint(s, v))
        (col(a), litOf(b)) match {
          case (Some(s), Some(v)) => side(s, v)
          case _ => (col(b), litOf(a)) match {
            case (Some(s), Some(v)) => side(s, v)
            case _ => Unknown
          }
        }
      case StartsWith(a, b) => notPrefixMay(col(a), litOf(b))
      case l: Like if l.escapeChar == '\\' =>
        litOf(l.right) match {
          // only a PURE prefix pattern ('lit%') is equivalent to
          // StartsWith; any other wildcard mix can reject a
          // prefix-matching value, so its negation may still hold
          case Some(u: UTF8String) =>
            val pat = u.toString
            val lit = pat.takeWhile(c => c != '%' && c != '_' && c != '\\')
            if (lit.nonEmpty && pat == lit + "%")
              notPrefixMay(col(l.left), Some(UTF8String.fromString(lit)))
            else Unknown
          case _ => Unknown
        }
      case r: RuntimeReplaceable => mayFalse(r.replacement)
      case w: With => mayFalse(inlineWith(w))
      case Not(y) => mayTrue(y)
      case _ => Unknown
    }

    // NOT IN: a list containing NULL makes IN evaluate to TRUE or NULL
    // (never FALSE); otherwise a single-point file prunes exactly when
    // its one value is PROVEN a member, and an unreasonable comparand
    // in the list stays Unknown — never a proof of non-membership
    def notInVerdict(s: ColStats, lits: Seq[Any]): Admit = {
      if (lits.contains(null)) return Prune
      if (allNull(s)) return Prune
      singlePoint(s) match {
        case Some(_) =>
          if (lits.exists(v => provenMember(s, v))) Prune
          else if (lits.forall(v => comparand(s, v).isDefined)) May
          else Unknown
        case None => (s.min, s.max) match {
          // min < max: bounds cannot prove every value a list member
          // (they COULD all be — keep is the only sound verdict)
          case (Some(_), Some(_)) => May
          case _ => Unknown
        }
      }
    }

    def inlineWith(w: With): Expression = {
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transform {
        case ref: CommonExpressionRef if defs.contains(ref.id) => defs(ref.id)
      }
    }

    mayTrue(e)
  }
}
