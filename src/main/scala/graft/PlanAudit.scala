package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Sort => LSort, Aggregate => LAggregate, GlobalLimit => LGlobalLimit, LocalLimit => LLocalLimit, LocalRelation => LLocalRelation, LogicalPlan, Join => LJoin}

/** Surface-wide scale-hazard audit: plans every registered query (table
  * reads start no schema job, but eager `localCheckpoint`s in a build
  * still run) and flags the physical shapes that break at 100 TB:
  *
  *   - GLOBAL-WINDOW: a Window with an empty partitionSpec funnels the
  *     whole input through one task (the canonical scale-killer);
  *   - GLOBAL-SORT-NONFINAL: a global Sort that is not the query's
  *     outermost presentation ORDER BY (range-partitioned, but a full
  *     corpus sort mid-plan deserves a second look);
  *   - CARTESIAN: CartesianProduct in the physical plan;
  *   - SINGLE-PARTITION: an `Exchange SinglePartition` that is not the
  *     final result collection.
  *
  * Whitelisted query/hazard pairs are documented inline — each names the
  * reason the shape is bounded (e.g. the windowed frame is a ≤1000-row
  * aggregate, not the corpus). `Inspect audit` exits non-zero on any
  * unexplained hazard; `PlanAuditSpec` runs [[audit]] over the full registry inside
  * `sbt test`, so a flat-window regression fails CI.
  *
  * usage: runMain graft.Inspect audit <sfDir> [queryName ...]
  */
object PlanAudit {

  /** hazards that are fine because the input to the offending operator is
    * provably bounded (post-aggregation scalars / top-k / fixed lattices),
    * with the bound stated. Keep this list SHORT and justified.
    */
  val whitelist: Map[String, Set[String]] = Map(
    // the 10 permutation-rank windows run over a localCheckpoint of the
    // per-day revenue aggregate — the checkpoint truncates lineage so the
    // reducing Aggregate beneath is invisible to `reduced`. The frame is
    // calendar-bounded (≤ ~2.6k rows for the 7-year TPC-H shipdate range)
    // at every corpus size.
    "q384_permutation_null" -> Set("GLOBAL-WINDOW"))

  /** Entity-id keys whose distinct count is FIXED by the schema, not the
    * corpus (region/nation are 5/25 at every TPC-H scale factor). Every
    * OTHER `*key`/`*_id` grouping key — part/supplier/customer/order/
    * lineitem keys, doc_id, vec_id, event_id — grows with the corpus, so
    * an aggregate keyed by one is corpus-proportional despite passing
    * the `reduced` (aggregated-frame) test.
    */
  private val fixedDomainKeys = Set(
    "r_regionkey", "n_nationkey", "n_regionkey", "s_nationkey", "c_nationkey")

  /** Whether a bounded frame's grouping-key SQL references a
    * corpus-proportional entity id (see [[fixedDomainKeys]]). Token-level:
    * `<scalar>`/`<limit>`/`<literal>` bounders and fixed-domain keys
    * (brand, type, event_type, calendar dates…) never match.
    */
  private[graft] def corpusProportionalKey(keySql: String): Boolean =
    keySql.toLowerCase.split("[^a-z0-9_]+").exists { t =>
      (t.endsWith("key") || t.endsWith("_id") || t == "id") &&
        !fixedDomainKeys.contains(t)
    }

  /** One query's audit: scale hazards (should be empty or whitelisted)
    * plus INFO notes for manual review — each bounded global window is
    * annotated with the grouping keys of the Aggregate(s) that bound its
    * frame (`bounded-by=[...]`), so a calendar/type-keyed frame (fixed
    * cardinality) is distinguishable from a distinct-value/user-keyed one
    * (grows with the corpus — candidates for the ops/Dist treatment).
    */
  final case class Audit(hazards: Seq[String], infos: Seq[String])

  def audit(df: DataFrame): Audit = {
    val opt = df.queryExecution.optimizedPlan
    val phys = df.queryExecution.sparkPlan.treeString

    val hazards = scala.collection.mutable.ListBuffer.empty[String]
    val infos = scala.collection.mutable.ListBuffer.empty[String]

    // "reduced" = every leaf under this node passes through an
    // operator that collapses corpus-scale cardinality before it:
    // an Aggregate (output ∝ group count, not input rows), a
    // Limit, or a LocalRelation (literal dim). A single-partition
    // window/sort over a reduced frame is O(groups), not O(corpus)
    // — bounded, not a scale hazard (it can still be LARGE if the
    // group key is high-cardinality; that subset is reported as
    // INFO with its bounding keys for manual review, not flagged).
    def reduced(p: LogicalPlan): Boolean = p match {
      case _: LAggregate | _: LGlobalLimit |
           _: LLocalLimit | _: LLocalRelation => true
      case j: LJoin => reduced(j.left) && reduced(j.right)
      case other if other.children.isEmpty => false
      case other => other.children.forall(reduced)
    }

    // the topmost bounding operators under a reduced frame: the
    // grouping keys of those Aggregates ARE the frame's cardinality
    // (limits/literal relations are constant-bounded).
    def bounders(p: LogicalPlan): Seq[String] = p match {
      case a: LAggregate =>
        if (a.groupingExpressions.isEmpty) Seq("<scalar>")
        else a.groupingExpressions.map(_.sql)
      case _: LGlobalLimit | _: LLocalLimit => Seq("<limit>")
      case _: LLocalRelation => Seq("<literal>")
      case other => other.children.flatMap(bounders)
    }

    // 1. corpus-wide window: empty partitionSpec over an
    // unreduced (corpus-sized) input.
    val boundedBy = scala.collection.mutable.ListBuffer.empty[String]
    opt.foreach {
      case w: LWindow if w.partitionSpec.isEmpty =>
        if (reduced(w.child))
          boundedBy += bounders(w.child).distinct.mkString(",")
        else hazards += "GLOBAL-WINDOW"
      case _ =>
    }

    // 2. global sort over an unreduced input that is not the
    // outermost presentation ORDER BY. A sort directly under a
    // Limit compiles to TakeOrderedAndProject (distributed
    // per-partition top-k + single merge of k·parts rows) — not
    // a global sort at all, so exclude those first.
    val underLimit = scala.collection.mutable.Set.empty[LSort]
    @annotation.tailrec
    def sortBelow(p: LogicalPlan): Option[LSort] = p match {
      case s: LSort => Some(s)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        sortBelow(pr.child)
      case ll: LLocalLimit => sortBelow(ll.child)
      case _ => None
    }
    opt.foreach {
      case l: LLocalLimit => sortBelow(l.child).foreach(underLimit += _)
      case l: LGlobalLimit => sortBelow(l.child).foreach(underLimit += _)
      case _ =>
    }
    val innerGlobalSorts = opt.collect {
      case s: LSort if s.global && !reduced(s.child) &&
        !underLimit.contains(s) => s
    }
    // the outermost sort (presentation ORDER BY) is expected:
    // range-partitioned, streams to the result. Walk the root
    // spine through row-preserving unary nodes to find it.
    @annotation.tailrec
    def spineSort(p: LogicalPlan): Option[LSort] = p match {
      case s: LSort => Some(s)
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project => spineSort(pr.child)
      case _ => None
    }
    val presentation =
      spineSort(opt).count(innerGlobalSorts.contains)
    if (innerGlobalSorts.size > presentation)
      hazards += s"GLOBAL-SORT-NONFINAL(${innerGlobalSorts.size - presentation})"
    if (boundedBy.nonEmpty && hazards.isEmpty)
      infos += s"${boundedBy.size} bounded global window(s) over aggregated frames " +
        boundedBy.map(k => s"bounded-by=[$k]").mkString("; ")

    // 5. pairwise dominance joins over corpus-proportional aggregates:
    // a BroadcastNestedLoopJoin does O(left·right) compares AND
    // broadcasts its build side, so it is only sane when the build side
    // is bounded by a FIXED domain (dim table, calendar, type lattice).
    // An Aggregate keyed by a corpus-proportional key (part/order/
    // doc/vec/event ids grow with the corpus in this schema) passes the
    // `reduced` test above but still broadcasts a corpus-sized frame —
    // the q151-skyline class. Flag any non-equi join (BNLJ is how those
    // compile) where either side is an aggregate bounded by such a key.
    if (phys.contains("BroadcastNestedLoopJoin")) {
      def hasEquiKey(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
        e.exists {
          case _: org.apache.spark.sql.catalyst.expressions.EqualTo => true
          case _: org.apache.spark.sql.catalyst.expressions.EqualNullSafe => true
          case _ => false
        }
      // side class: a non-reduced side is the raw corpus; a reduced side
      // whose bounders include a corpus key is corpus-PROPORTIONAL; a
      // reduced side with only fixed-domain/scalar/limit/literal
      // bounders is constant-bounded. |L|·|R| compares only explode
      // when BOTH sides grow with the corpus — crossJoin(corpus,
      // broadcast(scalar)) is linear and stays clean. A localCheckpoint
      // truncates lineage to a LogicalRDD leaf the audit cannot see
      // through; those sides are reported as INFO (the repo convention
      // is that every checkpoint site documents its frame bound), not
      // flagged — the static hazard covers the statically-visible class.
      def checkpointed(p: LogicalPlan): Boolean = p.collectLeaves().exists {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _ => false
      }
      // a Filter with an equality-to-literal conjunct (vec_id = 0, the
      // single-query-vector probe) bounds its output by the key's
      // multiplicity — treated as non-growing so brute-force oracles
      // that broadcast ONE point-selected row stay clean.
      def pointFiltered(p: LogicalPlan): Boolean = {
        import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
        def conjuncts(e: Expression): Seq[Expression] = e match {
          case And(l, r) => conjuncts(l) ++ conjuncts(r)
          case other => Seq(other)
        }
        p.exists {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            conjuncts(f.condition).exists {
              case EqualTo(_: AttributeReference, _: Literal) => true
              case EqualTo(_: Literal, _: AttributeReference) => true
              case _ => false
            }
          case _ => false
        }
      }
      def grows(side: LogicalPlan): Option[Seq[String]] =
        if (checkpointed(side) || pointFiltered(side)) None
        else if (!reduced(side)) Some(Seq("<raw>"))
        else {
          val bad = bounders(side).filter(corpusProportionalKey)
          if (bad.nonEmpty) Some(bad.distinct) else None
        }
      var ckptJoins = 0
      opt.foreach {
        case j: LJoin if j.condition.forall(!hasEquiKey(_)) =>
          (grows(j.left), grows(j.right)) match {
            case (Some(l), Some(r)) =>
              hazards += s"BNLJ-CORPUS-BROADCAST(${(l ++ r).distinct.mkString(",")})"
            case _ =>
          }
          if (checkpointed(j.left) || checkpointed(j.right)) ckptJoins += 1
        case _ =>
      }
      if (ckptJoins > 0)
        infos += s"$ckptJoins non-equi join(s) over checkpointed frame(s) — " +
          "bound must be documented at the localCheckpoint call site"
    }

    // 3/4. physical shapes
    if (phys.contains("CartesianProduct")) hazards += "CARTESIAN"
    val spExchanges = "Exchange SinglePartition".r.findAllIn(phys).size
    // a single trailing single-partition exchange under a global
    // limit/sort is presentation; more than one is structural
    if (spExchanges > 1) hazards += s"SINGLE-PARTITION($spExchanges)"

    Audit(hazards.toSeq, infos.toSeq)
  }

  /** Unwhitelisted hazards for a named query (the gate condition). */
  def unexplained(name: String, a: Audit): Seq[String] =
    a.hazards.filterNot(h =>
      whitelist.getOrElse(name, Set.empty).exists(h.startsWith))
}
