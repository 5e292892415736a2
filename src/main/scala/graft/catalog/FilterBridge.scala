package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}

/** Translations between the three filter dialects the DSv2 catalog
  * speaks:
  *
  *  - V1 [[org.apache.spark.sql.sources.Filter]] — what Spark pushes
  *    into a [[org.apache.spark.sql.connector.read.SupportsPushDownFilters]]
  *    scan builder and hands a
  *    [[org.apache.spark.sql.connector.catalog.SupportsDelete]];
  *  - catalyst [[Expression]] conjuncts — what the manifest's shared
  *    bounds extractor ([[graft.sources]]' `ManifestPruning.bounds`)
  *    reads, so the snapshot scan prunes files with EXACTLY the
  *    decision merge's touched-file split and the key/range reads use;
  *  - [[Column]] — what [[graft.sources.SnapshotTable.deleteWhere]]
  *    takes for the metadata-only (deletion-vector) DELETE.
  *
  * All three are CONSERVATIVE: an untranslatable filter contributes
  * nothing (pruning keeps more files / the delete refuses and falls
  * back to the copy-on-write row-level plan) — never a wrong answer.
  * Reference analog: the select/delete-by-filename predicates of
  * /root/reference/src/managers/metadata_manager.py (the catalog makes
  * them SQL-addressable). */
private[catalog] object FilterBridge {

  /** Rewrite a V1 filter's attribute names (logical → physical, for
    * parquet row-group pushdown against files that spell minted
    * physical names). Attribute references may be NESTED dotted paths
    * (Spark pushes those to V2 sources); the resolver returns None
    * for a reference it cannot translate and the whole filter drops
    * from the pushdown — never guessed: an untranslated name could
    * address a DROPPED column's buried bytes in old files. Unknown
    * filter shapes likewise drop. */
  def rename(f: Filter, r: String => Option[String]): Option[Filter] = f match {
    case EqualTo(a, v) => r(a).map(EqualTo(_, v))
    case EqualNullSafe(a, v) => r(a).map(EqualNullSafe(_, v))
    case GreaterThan(a, v) => r(a).map(GreaterThan(_, v))
    case GreaterThanOrEqual(a, v) => r(a).map(GreaterThanOrEqual(_, v))
    case LessThan(a, v) => r(a).map(LessThan(_, v))
    case LessThanOrEqual(a, v) => r(a).map(LessThanOrEqual(_, v))
    case In(a, vs) => r(a).map(In(_, vs))
    case IsNull(a) => r(a).map(IsNull(_))
    case IsNotNull(a) => r(a).map(IsNotNull(_))
    case StringStartsWith(a, v) => r(a).map(StringStartsWith(_, v))
    case StringEndsWith(a, v) => r(a).map(StringEndsWith(_, v))
    case StringContains(a, v) => r(a).map(StringContains(_, v))
    case And(l, rr) => for { a <- rename(l, r); b <- rename(rr, r) } yield And(a, b)
    case Or(l, rr) => for { a <- rename(l, r); b <- rename(rr, r) } yield Or(a, b)
    case Not(c) => rename(c, r).map(Not)
    case _: AlwaysTrue | _: AlwaysFalse => Some(f)
    case _ => None
  }

  /** V1 filter → catalyst conjunct over PHYSICAL attribute names, for
    * the manifest's file-skipping decision (bounds extractor and
    * partition-value evaluation). Equality, comparisons, IN of
    * literals, null tests, AND, OR and NOT translate. Inside an AND a
    * lone translatable side stands alone — `A AND unknown` implies
    * `A`, so pruning with `A` is still conservative. An OR translates
    * only when both sides do (`A' OR B'` is implied by `A OR B` when
    * each side implies its translation). A NOT translates only when
    * its child translates EXACTLY (strict): `NOT A` does not imply
    * `NOT A'` for a widened `A'`.
    *
    * `strict = true` flips the AND rule: both sides must translate or
    * the whole conjunct is None. Pruning callers want the lenient
    * widening (more files kept — safe); a caller that REPLACES
    * everything the predicate names (the partition-scoped overwrite)
    * must use strict, where a silently dropped conjunct would widen
    * the replacement beyond the named scope. */
  def toCatalystBound(f: Filter, fieldType: String => Option[DataType],
      phys: String => String, strict: Boolean = false): Option[Expression] = {
    def attr(n: String): Option[AttributeReference] =
      fieldType(n).map(t => AttributeReference(phys(n), t)())
    def l(v: Any): Option[Expression] =
      if (v == null) None else scala.util.Try(Literal(v)).toOption
    f match {
      case EqualTo(a, v) =>
        for { x <- attr(a); y <- l(v) } yield expressions.EqualTo(x, y)
      case EqualNullSafe(a, v) =>
        for { x <- attr(a); y <- l(v) } yield expressions.EqualNullSafe(x, y)
      case GreaterThan(a, v) =>
        for { x <- attr(a); y <- l(v) } yield expressions.GreaterThan(x, y)
      case GreaterThanOrEqual(a, v) =>
        for { x <- attr(a); y <- l(v) } yield expressions.GreaterThanOrEqual(x, y)
      case LessThan(a, v) =>
        for { x <- attr(a); y <- l(v) } yield expressions.LessThan(x, y)
      case LessThanOrEqual(a, v) =>
        for { x <- attr(a); y <- l(v) } yield expressions.LessThanOrEqual(x, y)
      case In(a, vs) if vs.nonEmpty && vs.forall(_ != null) =>
        for { x <- attr(a); ys <- traverse(vs.toSeq.map(l)) }
          yield expressions.In(x, ys)
      case IsNull(a) => attr(a).map(expressions.IsNull(_))
      case IsNotNull(a) => attr(a).map(expressions.IsNotNull(_))
      case And(lf, rf) =>
        (toCatalystBound(lf, fieldType, phys, strict),
            toCatalystBound(rf, fieldType, phys, strict)) match {
          case (Some(a), Some(b)) => Some(expressions.And(a, b))
          case (one @ Some(_), None) if !strict => one
          case (None, one @ Some(_)) if !strict => one
          case _ => None
        }
      case Or(lf, rf) =>
        for {
          a <- toCatalystBound(lf, fieldType, phys, strict)
          b <- toCatalystBound(rf, fieldType, phys, strict)
        } yield expressions.Or(a, b)
      case Not(c) =>
        toCatalystBound(c, fieldType, phys, strict = true).map(expressions.Not(_))
      case _ => None
    }
  }

  /** V1 filter → [[Column]] over LOGICAL names — the predicate
    * [[graft.sources.SnapshotTable.deleteWhere]] evaluates. Fully
    * recursive (OR/NOT/null tests included): a DELETE predicate must
    * translate EXACTLY or not at all ([[toColumn]] = None makes
    * `canDeleteWhere` false, routing the statement to the row-level
    * copy-on-write plan instead — correct either way, never both).
    *
    * Attribute references resolve against the TABLE SCHEMA, and only a
    * real TOP-LEVEL column translates: Spark's V1 filter conversion
    * spells a nested reference as a dotted name (`info.n_chars`), which
    * backtick-quoting whole would mis-address as one top-level name —
    * and an attribute that arrives already quoted would double-quote.
    * Declining both shapes routes a struct-field DELETE to the
    * row-level plan, which handles it correctly; a literal dotted
    * TOP-LEVEL column (the schema says so) still translates whole. */
  def toColumn(f: Filter, schema: StructType): Option[Column] = {
    def topLevel(n: String): Option[String] =
      if (n.contains('`')) None
      else schema.fields.find(_.name.equalsIgnoreCase(n)).map(_.name)
    def c(n: String): Column = col(s"`$n`")
    def one(a: String)(mk: Column => Column): Option[Column] =
      topLevel(a).map(n => mk(c(n)))
    f match {
      case EqualTo(a, v) => one(a)(_ === lit(v))
      case EqualNullSafe(a, v) => one(a)(_ <=> lit(v))
      case GreaterThan(a, v) => one(a)(_ > lit(v))
      case GreaterThanOrEqual(a, v) => one(a)(_ >= lit(v))
      case LessThan(a, v) => one(a)(_ < lit(v))
      case LessThanOrEqual(a, v) => one(a)(_ <= lit(v))
      case In(a, vs) => one(a)(_.isInCollection(vs.toSeq))
      case IsNull(a) => one(a)(_.isNull)
      case IsNotNull(a) => one(a)(_.isNotNull)
      case StringStartsWith(a, v) => one(a)(_.startsWith(v))
      case StringEndsWith(a, v) => one(a)(_.endsWith(v))
      case StringContains(a, v) => one(a)(_.contains(v))
      case And(l, r) =>
        for { a <- toColumn(l, schema); b <- toColumn(r, schema) } yield a && b
      case Or(l, r) =>
        for { a <- toColumn(l, schema); b <- toColumn(r, schema) } yield a || b
      case Not(x) => toColumn(x, schema).map(!_)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** Case-insensitive field lookup (Spark's default resolution). */
  def fieldOf(schema: StructType, name: String): Option[org.apache.spark.sql.types.StructField] =
    schema.fields.find(_.name.equalsIgnoreCase(name))

  private def traverse(xs: Seq[Option[Expression]]): Option[Seq[Expression]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None
}
