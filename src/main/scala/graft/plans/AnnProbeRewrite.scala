package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Descending, Expression, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V2ScanRelationPushDown}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType, MetadataBuilder}

import graft.vector.VectorOps

/** ANN auto-probe: `ORDER BY cosine(v, <literal query>) DESC LIMIT k`
  * over a table whose LSH bucket layout is DECLARED in its schema is
  * rewritten to scan only the query's probe buckets — the SURVEY §7.4
  * "top-k-score rewrite", shipped as an OPT-IN optimizer rule.
  *
  * The declaration rides column METADATA: [[AnnProbe.withLshBucket]]
  * adds a `bucket` column computed by the repo's seeded
  * random-hyperplane sign-LSH ([[VectorOps.rhpLshBucket]]) and stamps
  * the bucket field with `{graft.lsh.on, bits, dim, seed}`. Parquet
  * persists field metadata in its schema footer, so a table written
  * once carries its index declaration to every future reader — the
  * exact analog of a vector store's index descriptor.
  *
  * The rewrite (fires only under `spark.graft.ann.autoProbe=true` —
  * it trades EXACT top-k for probe-bucket top-k, so it must be the
  * user's explicit choice, like every ANN index):
  *   1. match `GlobalLimit(LocalLimit(Sort(score DESC, ...)))` where
  *      the score expression contains `DotProduct(v, literal q)` (the
  *      codegen'd kernel inside [[VectorOps.cosine]]) — angular
  *      similarity, the metric sign-LSH buckets are aligned with;
  *   2. find a node below the sort whose output carries BOTH `v` and a
  *      bucket attribute declared on `v` (for a parquet table that is
  *      the relation itself — column pruning only stacks Projects
  *      above it). A UNION directly under the sort (several indexed
  *      inputs ranked as one) resolves per leg by output ordinal, and rewrites only if EVERY leg has a declared
  *      index (each leg gets its own probe filter; one undeclared leg
  *      refuses the whole rewrite — a partially-probed union would
  *      let unfiltered legs compete with filtered ones);
  *   3. compute the query's bucket plus all Hamming-≤r neighbors
  *      driver-side (r = `spark.graft.ann.hammingRadius`, default 1 —
  *      standard multi-probe LSH) from the same seeded hyperplanes,
  *      and inject `Filter(bucket IN probes)` directly above that
  *      node. V1 filter pushdown reads Filters above the relation at
  *      physical-planning time, so the IN list lands in the parquet
  *      scan's PushedFilters — at 100 TB a bucket-sorted or
  *      bucket-partitioned layout turns that into row-group/partition
  *      pruning, and the scan touches ~(r+1 choose ≤r)·2^-bits of the
  *      corpus.
  * Everything above the filter is untouched: the same Sort+Limit plans
  * as TakeOrderedAndProject (per-partition heaps) over the pruned
  * scan. A query that prunes the bucket column away, sorts by anything
  * but a literal-query dot product, or runs without the conf simply
  * does not match — the rule never degrades a plan it does not
  * understand. AnnProbeSpec pins rewrite-on/off equality with the
  * probe-filtered brute force, the pushdown, and the refusal edges;
  * the `vec_ann_probe_topk` gate hashes the rewritten ranking against
  * a blind DuckDB oracle computing the identical probe set. */
object AnnProbeRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(AnnProbe.AutoProbeKey, "false").toBoolean) return plan
    val radius = conf.getConfString(AnnProbe.HammingKey, "1").toInt
    plan.transformDown {
      case gl @ GlobalLimit(_, ll @ LocalLimit(_, body)) =>
        // the optimizer pushes Projects through limits, so the sort
        // that defines WHICH k rows survive may sit under a Project
        // chain — strip it (the limit requirement itself is the
        // semantic guard: a probe filter under a full global sort
        // would DROP rows, not approximate a ranking)
        val rewritten = for {
          srt <- findGlobalSort(body)
          orders = srt.order
          if orders.nonEmpty && orders.head.direction == Descending
          targets <- targetsFor(orders.head.child, srt.child, radius)
          if targets.nonEmpty
        } yield {
          val newBody = body.transformUp {
            case n if targets.exists(_._1 eq n) =>
              val (_, bucketAttr, probes) = targets.find(_._1 eq n).get
              probed(n, bucketAttr, probes)
          }
          gl.copy(child = ll.copy(child = newBody))
        }
        rewritten.getOrElse(gl)
    }
  }

  /** Every (node, bucket attribute, probe set) the rewrite must
    * filter. Single-relation plans yield one target. A UNION directly
    * under the sort (several indexed inputs ranked as one) is
    * approximable only if EVERY leg resolves to a declared index:
    * each leg then gets its own probe filter (probes computed from its
    * OWN declaration), and one undeclared leg refuses the whole
    * rewrite — filtering a strict subset of legs would drop the
    * unfiltered legs' high scorers from an unprobed competition, i.e.
    * change semantics beyond the declared approximation. */
  private def targetsFor(orderExpr: Expression, child: LogicalPlan, radius: Int)
      : Option[Seq[(LogicalPlan, Attribute, Array[Long])]] = child match {
    case u: Union =>
      val headOut = u.children.head.output
      orderExpr match {
        // Union.output reuses the FIRST child's attributes, so the
        // sort key resolves per leg by OUTPUT ORDINAL (union alignment
        // is positional, not nominal)
        case a: AttributeReference =>
          val ord = headOut.indexWhere(_.exprId == a.exprId)
          if (ord < 0) None
          else sequence(u.children.map { c =>
            // a NESTED union inside a leg would re-open the
            // first-sub-leg hole — refuse the leg (and so the whole
            // rewrite) instead
            if (c.exists(_.isInstanceOf[Union])) None
            else for {
              (v, qvec) <- scoreTarget(c.output(ord), c)
              (bucketAttr, node, bits, dim, seed) <- declarationFor(v, c)
              if !alreadyProbed(c, bucketAttr)
              if qvec.length == dim
            } yield (node, bucketAttr,
              AnnProbe.probeBuckets(qvec, bits, dim, seed, radius))
          })
        case e =>
          // sort on an expression over the union output: the scored
          // vector attribute itself maps per leg by ordinal
          scoreTarget(e, u).flatMap { case (v, qvec) =>
            val ord = headOut.indexWhere(_.exprId == v.exprId)
            if (ord < 0) None
            else sequence(u.children.map { c =>
              c.output(ord) match {
                case _ if c.exists(_.isInstanceOf[Union]) => None // nested
                case legV: AttributeReference =>
                  for {
                    (bucketAttr, node, bits, dim, seed) <- declarationFor(legV, c)
                    if !alreadyProbed(c, bucketAttr)
                    if qvec.length == dim
                  } yield (node, bucketAttr,
                    AnnProbe.probeBuckets(qvec, bits, dim, seed, radius))
                case _ => None
              }
            })
          }
      }
    // a Union anywhere DEEPER in the subtree (under a distinct's
    // Aggregate, a Repartition, ...) would let the single-target path
    // below resolve into leg 1 only — the partially-probed-union wrong
    // -results mode — so any union shape other than the handled
    // direct-child case REFUSES (the rule never degrades a plan it
    // does not fully understand)
    case _ if child.exists(_.isInstanceOf[Union]) => None
    case _ =>
      (for {
        (v, qvec) <- scoreTarget(orderExpr, child)
        (bucketAttr, node, bits, dim, seed) <- declarationFor(v, child)
        if !alreadyProbed(child, bucketAttr)
        if qvec.length == dim
      } yield Seq((node, bucketAttr,
        AnnProbe.probeBuckets(qvec, bits, dim, seed, radius))))
  }

  private def sequence[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  private def findGlobalSort(p: LogicalPlan): Option[Sort] = p match {
    case s: Sort if s.global => Some(s)
    case pr: Project => findGlobalSort(pr.child)
    case _ => None
  }

  /** The (vector attribute, literal query vector) behind the sort's
    * score expression — resolved through one Project alias level (the
    * `select(score).orderBy(score)` shape) and matched on the
    * DotProduct kernel inside cosine/dot scoring. */
  private def scoreTarget(orderExpr: Expression,
      child: LogicalPlan): Option[(AttributeReference, Array[Double])] = {
    val resolved = orderExpr match {
      case a: AttributeReference =>
        child.collectFirst {
          case p: Project => p.projectList.collectFirst {
            case al @ Alias(e, _) if al.exprId == a.exprId => e
          }
        }.flatten.getOrElse(orderExpr)
      case e => e
    }
    resolved.collectFirst {
      case graft.functions.DotProduct(v: AttributeReference, LiteralVec(q)) => (v, q)
      case graft.functions.DotProduct(LiteralVec(q), v: AttributeReference) => (v, q)
      case V2Cosine(v, q) => (v, q)
    }
  }

  private object LiteralVec {
    def unapply(e: Expression): Option[Array[Double]] = e match {
      case Literal(a: ArrayData, ArrayType(DoubleType, _)) => Some(a.toDoubleArray())
      case _ => None
    }
  }

  /** The SQL catalog scalar `cosine_sim(v, literal)` — a stock session
    * ranking the store by name resolves to the V2 function's
    * ApplyFunctionExpression (interpreted) or magic-method Invoke
    * (codegen), not the DotProduct tree. Matched by function NAME via
    * the public connector interface. */
  private object V2Cosine {
    private def isCosine(o: Any): Boolean = o match {
      case f: org.apache.spark.sql.connector.catalog.functions.ScalarFunction[_] =>
        f.name == "cosine_sim"
      case _ => false
    }
    private def fromArgs(args: Seq[Expression])
        : Option[(AttributeReference, Array[Double])] = args match {
      case Seq(v: AttributeReference, LiteralVec(q)) => Some((v, q))
      case Seq(LiteralVec(q), v: AttributeReference) => Some((v, q))
      case _ => None
    }
    def unapply(e: Expression): Option[(AttributeReference, Array[Double])] = e match {
      case a: org.apache.spark.sql.catalyst.expressions.ApplyFunctionExpression
          if isCosine(a.function) => fromArgs(a.children)
      case inv: org.apache.spark.sql.catalyst.expressions.objects.Invoke =>
        inv.targetObject match {
          case Literal(obj, _) if isCosine(obj) => fromArgs(inv.arguments)
          case _ => None
        }
      case _ => None
    }
  }

  /** `n` with the probe filter `bucket IN probes` applied. A DSv2 scan
    * (the snapshot table's reads) has already pruned its columns —
    * the bucket among them — by the time this rule runs, so it is
    * re-planned from its relation with the probe filter PUSHED (the
    * scan prunes files on it) under a projection back to its output;
    * filters an earlier push put into the scan stay above it as
    * residuals, so rows never change. Any other node gets the filter
    * directly above it. */
  private def probed(n: LogicalPlan, b: Attribute, probes: Array[Long]): LogicalPlan = {
    val in = In(b, probes.map(Literal(_)).toSeq)
    n match {
      case s: DataSourceV2ScanRelation =>
        V2ScanRelationPushDown(Project(s.output, Filter(in, s.relation)))
      case _ => Filter(in, n)
    }
  }

  /** A node below the sort whose output carries the scored vector
    * attribute and whose output — for a DSv2 scan, its relation's —
    * carries a bucket attribute declared on it. */
  private def declarationFor(v: AttributeReference, child: LogicalPlan)
      : Option[(Attribute, LogicalPlan, Int, Int, Long)] = {
    def declared(n: LogicalPlan): Seq[Attribute] = (n match {
      case s: DataSourceV2ScanRelation => s.relation.output
      case _ => n.output
    }).filter(a => a.metadata.contains(AnnProbe.MetaOn) &&
      a.metadata.getString(AnnProbe.MetaOn) == v.name)
    child.collectFirst {
      case n if n.outputSet.contains(v) && declared(n).nonEmpty =>
        val b = declared(n).head
        (b, n,
          b.metadata.getLong(AnnProbe.MetaBits).toInt,
          b.metadata.getLong(AnnProbe.MetaDim).toInt,
          b.metadata.getLong(AnnProbe.MetaSeed))
    }
  }

  /** Idempotence across the fixed-point batch: once the probe filter
    * is in, the plan no longer matches. */
  private def alreadyProbed(child: LogicalPlan, b: Attribute): Boolean =
    child.exists {
      case Filter(In(a: AttributeReference, _), _) => a.exprId == b.exprId
      case _ => false
    }
}

/** Declaration + probe-set math shared by the rule, its writer helper,
  * and the gate's oracle. */
object AnnProbe {
  val AutoProbeKey = "spark.graft.ann.autoProbe"
  val HammingKey = "spark.graft.ann.hammingRadius"
  val MetaOn = "graft.lsh.on"
  val MetaBits = "graft.lsh.bits"
  val MetaDim = "graft.lsh.dim"
  val MetaSeed = "graft.lsh.seed"

  /** Add the declared LSH bucket column: `bucket` =
    * [[VectorOps.rhpLshBucket]] of `vCol`, with the layout declaration
    * stamped on the field's metadata (parquet persists it). */
  def withLshBucket(df: DataFrame, vCol: String, bits: Int = 8,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val md = new MetadataBuilder()
      .putString(MetaOn, vCol).putLong(MetaBits, bits.toLong)
      .putLong(MetaDim, dim.toLong).putLong(MetaSeed, seed)
      .build()
    df.select(col("*"),
      VectorOps.rhpLshBucket(col(vCol), bits, dim, seed).as("bucket", md))
  }

  /** Register the rewrite on a live session (idempotent); the conf
    * opt-in still gates every rewrite. */
  def enable(spark: SparkSession): Unit = {
    org.apache.spark.sql.graftbridge.Bridge
      .addOptimizerRule(spark, AnnProbeRewrite)
    spark.conf.set(AutoProbeKey, "true")
  }

  /** The query vector's own bucket. Same arithmetic as
    * [[VectorOps.rhpLshBucket]], evaluated driver-side. */
  def bucketOf(q: Array[Double], bits: Int, dim: Int, seed: Long): Long = {
    val planes = VectorOps.hyperplaneSigns(bits, dim, seed)
    (0 until bits).map { i =>
      var s = 0.0
      var j = 0
      while (j < math.min(dim, q.length)) { s += q(j) * planes(i)(j); j += 1 }
      if (s > 0) 1L << i else 0L
    }.sum
  }

  /** Multi-probe set: the query bucket plus every bucket within
    * Hamming distance `radius` (sorted, distinct). radius 0 = exact
    * bucket only; 1 = classic multi-probe (bits+1 buckets). */
  def probeBuckets(q: Array[Double], bits: Int, dim: Int, seed: Long,
      radius: Int): Array[Long] = {
    val qb = bucketOf(q, bits, dim, seed)
    def flips(b: Long, r: Int, from: Int): Seq[Long] =
      if (r == 0) Seq(b)
      else (from until bits).flatMap(i => flips(b ^ (1L << i), r - 1, i + 1)) :+ b
    (0 to radius).flatMap(r => flips(qb, r, 0)).distinct.sorted.toArray
  }
}
