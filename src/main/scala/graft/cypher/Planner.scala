package graft.cypher

import graft.ops.Ckpt._

import graft.graph.{Direction, PropertyGraph}
import graft.graph.PropertyGraph.{colProp, propCol}
import graft.ops.UpdateOps
import graft.functions.expressions.ParamSlot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftplan.Plans
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import Ast._

/**
 * Compiles a parsed Cypher query into one declarative Spark plan over a
 * PropertyGraph. Counterpart of the reference's planning stack
 * (community/cypher/cypher-planner/.../idp/IDPSolver.scala drives join-order
 * search over ir/QueryGraph.scala:62) — here pattern elements are planned
 * left-to-right per path and Catalyst/AQE pick physical join strategies,
 * which at cluster scale is the right division of labor: the engine declares
 * equi-joins over id columns, the optimizer reorders/broadcasts.
 *
 * Variable binding model (one DataFrame column per bound variable):
 *  - node var `v`   → LONG column `v` (node id), plus hydrated property
 *                     columns `v$prop` for every property the query ever
 *                     reads from `v` (computed by a whole-query pre-walk, so
 *                     hydration happens exactly once per variable, at bind
 *                     time, and parquet column pruning sees precise needs)
 *  - rel var `r`    → LONG column `r` (rel id), plus `r$prop`
 *  - var-length `r` → ARRAY<LONG> column of traversed rel ids
 *  - value var `x`  → the value column itself (WITH/UNWIND aliases)
 *
 * Cypher semantics preserved: relationship uniqueness within a MATCH
 * (pairwise `<>` filters, reference front-end AddUniquenessPredicates.scala),
 * OPTIONAL MATCH as a left-outer join keyed on the referenced bound
 * variables, missing properties evaluate to NULL, aggregation grouped by the
 * non-aggregate return items, UNION distinct vs UNION ALL.
 */
object Planner {

  private val aggFns = Set("count", "sum", "avg", "min", "max", "collect",
    "stdev", "stdevp", "percentilecont", "percentiledisc")

  sealed trait Binding
  case object NodeVar extends Binding
  case object RelVar extends Binding
  case object RelListVar extends Binding
  /** a list of node IDS (`WITH nodes(p) AS ns`, `collect(n)`): property /
    * labels access on its elements hydrates positional parallel arrays the
    * same way path variables do (enrichPathElems). */
  case object NodeListVar extends Binding
  case object ValueVar extends Binding
  /** shortestPath path variable: carries `v$length` (+ reachable via it). */
  case object PathVar extends Binding

  private case class Env(df: Option[DataFrame], binds: Map[String, Binding]) {
    def has(v: String): Boolean = binds.contains(v)
  }

  private class Ctx(val spark: SparkSession, var g: PropertyGraph,
      val params: Map[String, Any], var needed: Map[String, Set[String]],
      val pruneRels: java.util.Set[RelPattern] =
        java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[RelPattern, java.lang.Boolean]())) {
    private var counter = 0
    def fresh(prefix: String): String = { counter += 1; s"__${prefix}_$counter" }
    /** Entity provenance of map-literal fields (`WITH {k: a} AS m` where
      * a is a node): `m.k` projected back out IS a node (reference
      * semantic-type inference), while a PROPERTY value projected under
      * the same shape stays a value and using it in node position remains
      * the VariableTypeConflict error the type system raises. Keyed
      * "mapVar.field"; conservative query-global scope. */
    val entityFields = scala.collection.mutable.Map.empty[String, Binding]
    /** Cross-iteration QPP group WHEREs rewritten to per-iteration
      * post-filters over the group arrays (`all(x IN a WHERE …)`); filled
      * by expandComposite, drained into the clause's pending WHERE by
      * planMatch — they may reference singletons bound LATER in the same
      * graph pattern (`((a)-[e]->(b) WHERE a.h > u.h)*(s)-->(u)`). */
    val deferredGroupWhere = scala.collection.mutable.ListBuffer.empty[Expr]
    /** statement-unique tag for created-entity id hashing: a per-clause
      * index would repeat across CREATE/MERGE clauses of one statement
      * (same runTag, same row ids) and collide the generated ids */
    def freshIdTag(): Int = { counter += 1; counter }
    /** per-transaction commit hook for CALL {} IN TRANSACTIONS */
    var txCommit: PropertyGraph => PropertyGraph = Planner.defaultTxCommit
    /** stable per-plan seed for created-entity id hashing */
    val runTag: String = java.util.UUID.randomUUID().toString
    /** rel variables DERIVED as slices of another rel array (quantified
      * group slots): exempt from the pairwise uniqueness predicates — they
      * overlap their source by construction */
    val relUniqExempt = scala.collection.mutable.Set.empty[String]
  }

  def plan(spark: SparkSession, g: PropertyGraph, query: Query,
      params: Map[String, Any]): DataFrame =
    plan(spark, g, query, params, decodeTop = true)

  /** The parameters of a query planned as a template. Where a scalar
    * parameter becomes a value column ([[paramColumn]]) the plan gets a
    * typed `ParamSlot`, bound per request; every other read (`get`: SKIP /
    * LIMIT, CALL arguments, dynamic keys, map access, the LOAD CSV URL,
    * the needs pre-walk) puts the value itself into the plan and is
    * recorded. */
  private[cypher] final class Params(values: Map[String, Any])
      extends scala.collection.immutable.AbstractMap[String, Any] {
    private val read = scala.collection.mutable.Set.empty[String]
    /** no scalar value is in the plan: it holds for every value of the
      * parameters' types (lists and maps key the cache by content) */
    def isTemplate: Boolean =
      read.forall(n => values.get(n).flatMap(ParamSlot.literal).isEmpty)
    def slot(n: String): Option[Column] = values.get(n).flatMap(ParamSlot.literal)
      .map(l => Plans.column(ParamSlot(n, l.dataType)))
    def get(n: String): Option[Any] = { read += n; values.get(n) }
    def iterator: Iterator[(String, Any)] = { read ++= values.keys; values.iterator }
    def removed(n: String): Map[String, Any] = { read ++= values.keys; values.removed(n) }
    def updated[V >: Any](n: String, v: V): Map[String, V] = {
      read ++= values.keys; values.updated(n, v)
    }
  }

  /** The analyzed plan of read-only `query` and whether it is a template
    * (see [[Params]]); with `slots` false, or when the template plan fails
    * — a plan-time job reaches a slot (a `Placement` probe of a filtered
    * input), or Spark needs a constant — the plan holds the values. A
    * query with a shortest-path pattern plans with its values at once:
    * its search runs while it plans, so a slot in the search's input fails
    * the template, and only after the planner and Catalyst work up to the
    * search. */
  private[cypher] def template(spark: SparkSession, g: PropertyGraph,
      query: Query, params: Map[String, Any], slots: Boolean): (LogicalPlan, Boolean) = {
    def valued = (Plans.analyzed(plan(spark, g, query, params)), false)
    val slotted = new Params(params)
    if (!slots || searchesWhilePlanning(query)) valued
    else try (Plans.analyzed(plan(spark, g, query, slotted)), slotted.isTemplate)
    catch { case scala.util.control.NonFatal(_) => fallbacks.incrementAndGet(); valued }
  }

  private val fallbacks = new java.util.concurrent.atomic.AtomicLong
  /** Template plans that failed and were planned again with their values
    * (observability, next to `Cypher.planCacheHits`). */
  def templateFallbacks: Long = fallbacks.get

  /** Whether any clause or expression of `ast` is a shortest-path pattern. */
  private def searchesWhilePlanning(ast: Any): Boolean = ast match {
    case _: ShortestPart | _: ShortestPathExpr => true
    case p: Product => p.productIterator.exists(searchesWhilePlanning)
    case i: Iterable[_] => i.exists(searchesWhilePlanning)
    case _ => false
  }

  /** decodeTop: top-level queries decode reconciled mixed-type union
    * columns to their toString() text; a nested CALL {} union keeps the
    * orderability encoding so the OUTER query's ORDER BY / min / max /
    * DISTINCT still follow Cypher's global value order. */
  /** Reference error contract: the operands of a UNION must agree on
    * whether they RETURN rows — `RETURN … UNION FINISH` (one returning,
    * one not) is a compile-time error; all-FINISH unions are legal. */
  private def validateUnionFinish(query: Query): Unit =
    if (query.parts.size > 1) {
      val returning = query.parts.map(
        _.clauses.exists(_.isInstanceOf[ReturnClause])).distinct
      require(returning.size == 1,
        "All sub queries in a UNION must have the same return column names" +
          " — a FINISH operand cannot be combined with a returning one")
    }

  private[cypher] def plan(spark: SparkSession, g: PropertyGraph, query: Query,
      params: Map[String, Any], decodeTop: Boolean): DataFrame = {
    validateUnionFinish(query)
    val parts = query.parts.map { part =>
      require(!part.clauses.exists(isWrite),
        "write clauses require Cypher.execute (returns the updated graph)")
      planSingle(spark, g, part, params)
    }
    val (aligned, reconciled) = reconcileUnionTypes(parts)
    val unioned = aligned.reduce(_ unionByName _)
    val merged =
      if (query.unionAll || parts.size == 1) unioned else unioned.distinct()
    if (decodeTop)
      reconciled.foldLeft(merged)((df, n) =>
        df.withColumn(n, graft.functions.Orderability.repr(col(n))))
    else merged
  }

  /** UNION branches whose columns disagree on static type (reference
    * community/values AnyValues global comparator — any two values are
    * comparable): lift each branch's column into the cross-type
    * orderability encoding (Orderability.scala) so the union resolves,
    * UNION DISTINCT dedups with value semantics (1 <> '1'), and downstream
    * sorts/aggregates follow the global type-rank order. Orderable mixes
    * (string/boolean/number/null and lists of those scalars) are lifted;
    * other type conflicts keep the existing unionByName error. */
  private def reconcileUnionTypes(parts: Seq[DataFrame])
      : (Seq[DataFrame], Seq[String]) = {
    if (parts.size <= 1) return (parts, Nil)
    import org.apache.spark.sql.types._
    def enc(dt: DataType, c: Column): Option[Column] =
      graft.functions.Orderability.encodeAny(dt, c)
    val shared = parts.map(_.columns.toSet).reduce(_ intersect _)
    // numeric-only width mixes (LONG branch vs DOUBLE branch, possibly with
    // a NULL-literal branch) stay NUMBERS: Cypher compares integers and
    // floats numerically, so `RETURN 1 UNION RETURN 2.5` is 1/2.5 — lifting
    // them into the encoding would stringify values and break 1-vs-1.0
    // UNION DISTINCT equivalence. Widen to long unless a fractional type
    // participates, then double.
    def numericTarget(dts: Seq[DataType]): Option[DataType] =
      if (dts.exists(_.isInstanceOf[NumericType]) &&
          dts.forall(dt => dt == NullType || dt.isInstanceOf[NumericType])) {
        val frac = dts.exists {
          case DoubleType | FloatType | _: DecimalType => true
          case _ => false
        }
        Some(if (frac) DoubleType else LongType)
      } else None
    val byName = parts.head.columns.toSeq.filter(shared).map { n =>
      n -> parts.map(_.schema(n).dataType).distinct
    }.filter(_._2.size > 1)
    val widen = byName.flatMap { case (n, dts) =>
      numericTarget(dts).map(n -> _) }.toMap
    val mixed = byName.collect {
      case (n, dts) if !widen.contains(n) &&
        dts.forall(dt => enc(dt, col(n)).isDefined) => n
    }
    if (mixed.isEmpty && widen.isEmpty) (parts, Nil)
    else (parts.map { p =>
      val w = widen.foldLeft(p) { case (acc, (n, t)) =>
        acc.withColumn(n, col(n).cast(t)) }
      mixed.foldLeft(w)((acc, n) =>
        acc.withColumn(n, enc(acc.schema(n).dataType, col(n)).get))
    }, mixed)
  }

  /** Does any part of the query mutate the graph or schema? The EXPLAIN
    * gate: an explained write query plans but must not execute. */
  def hasWrites(q: Ast.Query): Boolean =
    q.parts.exists(_.clauses.exists(isWrite))

  private def isWrite(c: Clause): Boolean = c match {
    case _: CreateClause | _: MergeClause | _: SetClause | _: RemoveClause |
         _: DeleteClause | _: CreateIndexClause | _: CreateConstraintClause |
         _: DropSchemaClause | _: ForeachClause => true
    case c: CallSubquery => c.innerQ.parts.exists(_.clauses.exists(isWrite))
    case _ => false
  }

  /** Can these clauses mutate or delete entities that existed BEFORE the
    * clause list ran? CREATE only adds new entities; MERGE without ON MATCH
    * only creates (ON CREATE SET touches just-created entities); SET/REMOVE
    * whose targets the same list CREATEd (and that were not bound outside,
    * `boundOuter`) touch only new entities. Everything else that writes in
    * place — SET/REMOVE on pre-bound variables, DELETE, MERGE … ON MATCH —
    * can. Rehydration of bound variables after a write is only needed in
    * the `true` case: skipping it for create-only bodies removes a
    * per-batch join over the nodes table from CALL {} IN TRANSACTIONS
    * commit loops (the r11 1.5× q_cypher_tx_batch regression). */
  private def mutatesExisting(clauses: Seq[Clause],
      boundOuter: Set[String]): Boolean = {
    val created: Set[String] = clauses.collect {
      case c: CreateClause => c.patterns.flatMap(p =>
        (p.first +: p.hops.map(_._2)).flatMap(_.variable) ++
          p.hops.flatMap(_._1.variable))
    }.flatten.toSet -- boundOuter
    def touchesExisting(items: Seq[SetItem]): Boolean =
      setItemVars(items).exists(v => !created(v))
    clauses.exists {
      case _: DeleteClause  => true
      case s: SetClause     => touchesExisting(s.items)
      case r: RemoveClause  => touchesExisting(r.items)
      case m: MergeClause   => m.onMatch.nonEmpty
      case f: ForeachClause => mutatesExisting(f.updates, boundOuter)
      case c: CallSubquery  =>
        c.innerQ.parts.exists(p => mutatesExisting(p.clauses, boundOuter))
      case _ => false
    }
  }

  /** Can a MATCH inside this clause list OBSERVE the list's own writes?
    * Per-invocation visibility only matters then (reference: each CALL{}
    * invocation sees the previous one's writes). Conservative label/type
    * overlap test: a node read pattern with no label (or a label
    * EXPRESSION) reads every label; an unlabeled CREATE/MERGE node or a
    * SET on a variable with unknown labels writes every label; same for
    * relationship types. Any DELETE aliases with every read. */
  private def bodyReadsItsWrites(clauses: Seq[Clause]): Boolean = {
    val readNodeLabels = Set.newBuilder[String]
    val readRelTypes = Set.newBuilder[String]
    var readsAnyNode = false; var readsAnyRel = false
    var readsNodes = false; var readsRels = false
    def readPattern(p: PathPattern): Unit = {
      ((p.first +: p.hops.map(_._2))).foreach { n =>
        readsNodes = true
        if (n.labels.isEmpty || n.labelExpr.isDefined) readsAnyNode = true
        else readNodeLabels ++= n.labels
      }
      p.hops.foreach { case (r, _) =>
        readsRels = true
        if (r.types.isEmpty || r.typeExpr.isDefined ||
          r.branches.isDefined) readsAnyRel = true
        else readRelTypes ++= r.types
      }
    }
    val writtenNodeLabels = Set.newBuilder[String]
    val writtenRelTypes = Set.newBuilder[String]
    var writesAnyNode = false; var writesAnyRel = false
    var writesNodes = false; var writesRels = false
    var deletes = false
    def writePattern(p: PathPattern): Unit = {
      ((p.first +: p.hops.map(_._2))).foreach { n =>
        writesNodes = true
        if (n.labels.isEmpty) writesAnyNode = true
        else writtenNodeLabels ++= n.labels
      }
      p.hops.foreach { case (r, _) =>
        writesRels = true
        if (r.types.isEmpty) writesAnyRel = true
        else writtenRelTypes ++= r.types
      }
    }
    def scan(cs: Seq[Clause]): Unit = cs.foreach {
      case m: MatchClause   => m.patterns.foreach(readPattern)
      case c: CreateClause  => c.patterns.foreach(writePattern)
      // MERGE's own probe is NOT a read here: planMerge resolves its
      // cross-row match-or-create set-based (idempotent per key), so a
      // body that only MERGEs needs no per-row execution; its ON CREATE /
      // ON MATCH items target the pattern's own variables, whose labels
      // writePattern already recorded
      case m: MergeClause   => writePattern(m.pattern)
      case s: SetClause     =>
        // SET mutates entities whose labels we don't track — assume any
        writesNodes = true; writesRels = true
        writesAnyNode = true; writesAnyRel = true
      case r: RemoveClause  =>
        writesNodes = true; writesRels = true
        writesAnyNode = true; writesAnyRel = true
      case _: DeleteClause  => deletes = true
      case f: ForeachClause => scan(f.updates)
      case c: CallSubquery  => c.innerQ.parts.foreach(p => scan(p.clauses))
      case _ => ()
    }
    scan(clauses)
    val nodeOverlap = readsNodes && writesNodes &&
      (readsAnyNode || writesAnyNode ||
        (readNodeLabels.result() & writtenNodeLabels.result()).nonEmpty)
    val relOverlap = readsRels && writesRels &&
      (readsAnyRel || writesAnyRel ||
        (readRelTypes.result() & writtenRelTypes.result()).nonEmpty)
    (deletes && (readsNodes || readsRels)) || nodeOverlap || relOverlap
  }

  /** Entry for updating queries: runs read AND write clauses, returning the
    * updated graph plus the final RETURN's rows (if any). Later read clauses
    * observe earlier writes (the reference's Eager semantics hold because
    * each write produces a new immutable snapshot that subsequent clauses
    * plan against). */
  /** Default per-transaction "commit": materialize the snapshot (eager
    * localCheckpoint — cuts lineage and makes the batch's effects concrete,
    * like a flushed transaction). The schema catalog rides along, and a
    * side that is ALREADY a materialized checkpoint (its plan is a bare
    * RDD scan — e.g. rels across a node-only batch) is not re-checkpointed:
    * without that, k batches re-materialize the untouched table k times.
    * Pass a GraphStore-backed callback to Cypher.execute for durable
    * versioned commits. */
  private def ckptUnlessMaterialized(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.logical match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      // freshCkpt: localCheckpoint inherits the join-PRODUCT size
      // estimate, which compounds exponentially across iterative commits
      // (see graft.ops.Ckpt / FreshStats scaladoc)
      case _ => df.freshCkpt()
    }

  val defaultTxCommit: PropertyGraph => PropertyGraph = { g =>
    g.copy(nodes = ckptUnlessMaterialized(g.nodes),
      rels = ckptUnlessMaterialized(g.rels))
  }

  /** Commit that materializes ONLY the tables a batch actually rewrote
    * (reference-equality against the pre-batch snapshot = per-table dirty
    * flag). A node-only MERGE batch must not re-materialize the rels table:
    * at 100 TB that is a full rewrite of an untouched 90 TB table per
    * commit. Only applies to the default in-memory commit; a user-supplied
    * callback (e.g. GraphStore durable versioning) sees the full graph. */
  private[cypher] def commitChanged(before: PropertyGraph, cur: PropertyGraph,
      commit: PropertyGraph => PropertyGraph): PropertyGraph =
    if (commit ne defaultTxCommit) commit(cur)
    else cur.copy(
      nodes = if (cur.nodes eq before.nodes) cur.nodes
              else ckptUnlessMaterialized(cur.nodes),
      rels  = if (cur.rels eq before.rels) cur.rels
              else ckptUnlessMaterialized(cur.rels))

  def execute(spark: SparkSession, g: PropertyGraph, query: Query,
      params: Map[String, Any],
      txCommit: PropertyGraph => PropertyGraph = defaultTxCommit)
      : (PropertyGraph, Option[DataFrame]) = {
    validateUnionFinish(query)
    // UNION in an updating query (reference LogicalPlanProducer.planUnion
    // :2546 places no single-part restriction): branches run in statement
    // order within the one transaction — each sees the previous branches'
    // writes (immutable snapshots thread through), and the RETURN streams
    // union with the same cross-type reconciliation as read-only UNION.
    if (query.parts.size > 1) {
      var cur = g
      val rets = Seq.newBuilder[DataFrame]
      query.parts.foreach { part =>
        val (g1, r) = executePart(spark, cur, part, params, txCommit)
        cur = g1
        r.foreach(rets += _)
      }
      val streams = rets.result()
      val ret =
        if (streams.isEmpty) None
        else {
          val (aligned, reconciled) = reconcileUnionTypes(streams)
          val unioned = aligned.reduce(_ unionByName _)
          val merged =
            if (query.unionAll || streams.size == 1) unioned
            else unioned.distinct()
          Some(reconciled.foldLeft(merged)((df, n) =>
            df.withColumn(n, graft.functions.Orderability.repr(col(n)))))
        }
      return (cur, ret)
    }
    executePart(spark, g, query.parts.head, params, txCommit)
  }

  private def executePart(spark: SparkSession, g: PropertyGraph,
      q0: SingleQuery, params: Map[String, Any],
      txCommit: PropertyGraph => PropertyGraph)
      : (PropertyGraph, Option[DataFrame]) = {
    val q = liftDynamicPatternProps(q0)
    val ctx = new Ctx(spark, g, params, neededProps(q, params), pruneEligibleRels(q))
    ctx.txCommit = txCommit
    var env = Env(None, Map.empty)
    var returned: Option[DataFrame] = None
    q.clauses.foreach {
      case m: MatchClause  => env = planMatch(ctx, env, m)
      case u: UnwindClause => env = planUnwind(ctx, env, u)
      case w: WithClause =>
        env = planProjection(ctx, env, w.items, w.distinct, w.orderBy, w.skip,
          w.limit, isReturn = false)
        w.where.foreach { pred => env = applyWhere(ctx, env, pred) }
      case c: CreateClause => env = planCreate(ctx, env, c)
      case m: MergeClause  => env = planMerge(ctx, env, m)
      case s: SetClause    =>
        planSetItems(ctx, env, s.items)
        // a trailing RETURN observes the post-SET values (openCypher; the
        // TCK pins it): refresh EVERY bound entity variable's hydrated
        // columns from the updated snapshot — another variable aliasing
        // the same entity (MATCH (a),(b) WHERE id(a)=id(b) SET a.x=1
        // RETURN b.x) must read through too, like the reference's
        // read-through-to-store visibility
        env = rehydrate(ctx, env, entityVars(env))
      case r: RemoveClause =>
        planSetItems(ctx, env, r.items)
        env = rehydrate(ctx, env, entityVars(env))
      case d: DeleteClause => planDelete(ctx, env, d)
      case f: ForeachClause =>
        planForeach(ctx, env, f)
        // FOREACH may SET/REMOVE on bound entities: refresh their hydrated
        // columns so later clauses in the SAME query read the new values
        // (same read-through-to-store visibility as a plain SET)
        env = rehydrate(ctx, env, entityVars(env))
      case lc: LoadCsvClause => env = planLoadCsv(ctx, env, lc)
      case cc: CallClause  =>
        env = planCall(ctx, env, cc,
          inQuery = q.clauses.size > 1,
          isLast = q.clauses.lastOption.contains(cc))
        // a STANDALONE procedure call returns its rows without RETURN
        if (q.clauses.size == 1) returned = env.df
      case cs0: CallSubquery =>
        // non-literal `OF <expr> ROWS` batch size: constant-fold now (the
        // reference evaluates the batch-size expression once per query)
        val cs = cs0.inTransactionsOfExpr match {
          case None => cs0
          case Some(e) => cs0.copy(
            inTransactionsOf = Some(constLong(ctx, e).getOrElse(
              throw new IllegalArgumentException(
                "IN TRANSACTIONS OF must be a constant-foldable " +
                  s"expression: $e"))),
            inTransactionsOfExpr = None)
        }
        // reference error contract: every non-variable item in a CALL{}
        // body's RETURN must carry an explicit alias
        cs.innerQ.parts.foreach(_.clauses.lastOption.foreach {
          case r: ReturnClause => r.items.foreach { i =>
            // map projections carry their subject's implicit alias
            // (`RETURN person {.name}` binds `person`)
            val implicitAlias = i.expr match {
              case _: Variable => true
              case MapProjection(Variable(_), _) => true
              case _ => false
            }
            require(i.alias.isDefined || implicitAlias,
              "Expression in CALL { RETURN ... } must be aliased")
          }
          case _ => ()
        })
        val writes = cs.innerQ.parts.exists(_.clauses.exists(isWrite))
        val boundBefore = env.binds.keySet
        // UNIT UNION body (`CALL { SET … UNION CREATE … }`, no RETURN in
        // any branch — reference SubqueryAcceptance union unit
        // subqueries): UNION over unit relations cannot dedup anything,
        // so the semantics are exactly "apply every branch's effects per
        // input row" — plan each branch as its own unit CALL {}
        if (writes && cs.innerQ.parts.size > 1 &&
            !cs.innerQ.parts.exists(_.clauses.exists(
              _.isInstanceOf[ReturnClause]))) {
          // KNOWN DIVERGENCE (branch-major vs row-major effect order): the
          // reference executes the whole union body per row; we run branch
          // A over all rows before branch B. Observable only when a later
          // branch READS an earlier branch's writes within the same body —
          // none of the vendored acceptance scenarios do.
          cs.innerQ.parts.foreach { part =>
            val one = cs.copy(innerQ = Query(Seq(part), unionAll = true))
            // correlated importing branches keep the set-based plan (same
            // guard as the non-union path below): per-row execution is the
            // unbounded sequential-driver-jobs cliff, and an importing
            // body's reads are driven by the imported rows, not re-reads
            // of its own writes
            val branchImports = part.clauses.headOption.exists {
              case WithClause(false, items, Nil, None, None, None) =>
                items.forall { i => i.expr match {
                  case Variable(v) => env.has(v); case _ => false } }
              case _ => false
            }
            val e2 = cs.inTransactionsOf match {
              case Some(n) =>
                // IN TRANSACTIONS: observability of prior executions'
                // writes is part of the contract, so imports don't waive
                // per-row execution (matches the non-union arm)
                planCallInTransactions(ctx, env, one,
                  if (bodyReadsItsWrites(part.clauses)) 1L else n)
              case None =>
                val selfReading =
                  !branchImports && bodyReadsItsWrites(part.clauses)
                planCallInTransactions(ctx, env, one,
                  if (selfReading) 1L else Long.MaxValue)
            }
            // unit body: outer rows/binds pass through unchanged
            locally { val _ = e2 }
          }
          val vars =
            if (cs.innerQ.parts.exists(p =>
                mutatesExisting(p.clauses, boundBefore)))
              entityVars(env)
            else entityVars(env).filterNot(boundBefore.contains)
          if (vars.nonEmpty) env = rehydrate(ctx, env, vars)
        } else {
        env = cs.inTransactionsOf match {
          case Some(n) =>
            // each execution must OBSERVE previous executions' writes
            // (reference iterator semantics): a body whose reads can see
            // its own writes executes per row — batch-at-once would let
            // all of a batch's executions read the pre-batch snapshot
            val selfReadingTx =
              cs.innerQ.parts.exists(p => bodyReadsItsWrites(p.clauses))
            planCallInTransactions(ctx, env, cs,
              if (selfReadingTx) 1L else n)
          // UNION bodies route through planCallSubquery, which plans the
          // whole union — cs.inner (single-part accessor) must not force
          case None if writes =>
            // SubqueryForeach (reference LogicalPlan :3877): write-CALL{}
            // without IN TRANSACTIONS = one implicit transaction over all
            // rows. EXCEPTION: an UNCORRELATED body that re-READS the graph
            // it writes (`CALL { MATCH (n:Counter) SET n.count = n.count+1
            // RETURN n.count }`) is observable per execution in the
            // reference (each invocation sees the previous one's writes) —
            // that body executes per input row; correlated bodies keep the
            // set-based plan (MERGE handles its own cross-row semantics).
            val importsVars = cs.innerQ.parts.head.clauses.headOption.exists {
              case WithClause(false, items, Nil, None, None, None) =>
                items.forall { i => i.expr match {
                  case Variable(v) => env.has(v); case _ => false } }
              case _ => false
            }
            // "self-reading" only when a body MATCH can OBSERVE the body's
            // writes — label/type overlap between read patterns and write
            // targets (an unlabeled read or unlabeled write overlaps
            // everything). A body that merely reads tables it never writes
            // keeps the set-based single-transaction plan; per-row
            // execution on large outer cardinality is an unbounded
            // sequential-driver-jobs cliff.
            val selfReading = !importsVars &&
              cs.innerQ.parts.exists(p => bodyReadsItsWrites(p.clauses))
            planCallInTransactions(ctx, env, cs,
              if (selfReading) 1L else Long.MaxValue)
          case None => planCallSubquery(ctx, env, cs)
        }
        // side effects of the subquery are VISIBLE after it (reference
        // read-through-to-store): refresh bound entity variables' hydrated
        // columns from the post-commit snapshot. Variables the subquery
        // NEWLY bound (`CREATE (n) RETURN n`) always hydrate — they have
        // no property columns yet; PRE-EXISTING variables only when the
        // body can have MUTATED a pre-existing entity (a create-only body
        // cannot change what the outer variables already read — skipping
        // that refresh join was the r12 tx-batch perf fix)
        if (writes || cs.inTransactionsOf.isDefined) {
          val vars =
            if (cs.innerQ.parts.exists(p =>
                mutatesExisting(p.clauses, boundBefore)))
              entityVars(env)
            else entityVars(env).filterNot(boundBefore.contains)
          if (vars.nonEmpty) env = rehydrate(ctx, env, vars)
        }
        } // end non-unit-union CALL {} shapes
      case c: CreateIndexClause =>
        ctx.g = graft.graph.Schema.createIndex(ctx.g, c.name, c.label, c.prop, c.kind)
      case c: CreateConstraintClause =>
        ctx.g = graft.graph.Schema.createConstraint(ctx.g, c.name, c.label,
          c.prop, c.kind)
      case d: DropSchemaClause =>
        ctx.g = if (d.isIndex) graft.graph.Schema.dropIndex(ctx.g, d.name)
          else graft.graph.Schema.dropConstraint(ctx.g, d.name)
      case s: ShowSchemaClause =>
        returned = Some(showSchema(ctx, s))
      case r: ReturnClause =>
        returned = Some(planProjection(ctx, env, r.items, r.distinct, r.orderBy,
          r.skip, r.limit, isReturn = true).df.get)
      case _: FinishClause =>
        returned = None // explicit no-result terminator; writes still commit
    }
    (ctx.g, returned)
  }

  private def showSchema(ctx: Ctx, s: ShowSchemaClause): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    s.what match {
      case "indexes" =>
        ctx.g.schema.indexes
          .map(i => (i.name, i.label, i.prop, i.kind)).sortBy(_._1)
          .toDF("name", "label", "property", "type")
      case "constraints" =>
        ctx.g.schema.constraints
          .map(c => (c.name, c.label, c.prop, c.kind)).sortBy(_._1)
          .toDF("name", "label", "property", "type")
      case "procedures" =>
        graft.functions.Procedures.names.toDF("name")
      case "functions" =>
        functionCatalog.sortBy(_._1).toDF("name", "category")
    }
  }

  /** SHOW FUNCTIONS catalog (reference ShowFunctionsCommand.scala): every
    * function name compileFunc dispatches, with its category. */
  val functionCatalog: Seq[(String, String)] = {
    val agg = Seq("count", "sum", "avg", "min", "max", "collect", "stdev",
      "stdevp", "percentileCont", "percentileDisc")
    val scalar = Seq("coalesce", "head", "last", "tail", "size", "length",
      "elementId", "id", "properties", "keys", "labels", "type", "startNode",
      "endNode", "nodes", "relationships", "range", "reverse", "exists",
      "isEmpty", "nullIf", "valueType", "randomUUID", "timestamp", "rand",
      "toString", "toStringOrNull", "toInteger", "toIntegerOrNull", "toFloat",
      "toFloatOrNull", "toBoolean", "toBooleanOrNull", "toStringList",
      "toIntegerList", "toFloatList", "toBooleanList")
    val math = Seq("abs", "ceil", "floor", "round", "sign", "sqrt", "exp",
      "log", "log10", "sin", "cos", "tan", "cot", "asin", "acos", "atan",
      "atan2", "degrees", "radians", "haversin", "isNaN", "pi", "e")
    val string = Seq("toUpper", "toLower", "trim", "ltrim", "rtrim", "btrim",
      "replace", "split", "substring", "left", "right", "normalize",
      "char_length", "character_length")
    val temporal = Seq("date", "datetime", "localdatetime", "date.truncate",
      "datetime.truncate", "localdatetime.truncate", "datetime.statement",
      "datetime.transaction", "datetime.realtime", "date.statement",
      "date.transaction", "date.realtime", "localdatetime.statement",
      "localdatetime.transaction", "localdatetime.realtime",
      "duration", "duration.between", "duration.inDays",
      "duration.inSeconds", "duration.inMonths")
    val spatial = Seq("point", "point.distance", "point.withinBBox", "distance")
    val vector = Seq("vector.similarity.cosine", "vector.similarity.euclidean")
    agg.map(_ -> "aggregating") ++ scalar.map(_ -> "scalar") ++
      math.map(_ -> "numeric") ++ string.map(_ -> "string") ++
      temporal.map(_ -> "temporal") ++ spatial.map(_ -> "spatial") ++
      vector.map(_ -> "vector")
  }

  private def planSingle(spark: SparkSession, g: PropertyGraph,
      q0: SingleQuery, params: Map[String, Any]): DataFrame = {
    val q = liftDynamicPatternProps(q0)
    val ctx = new Ctx(spark, g, params, neededProps(q, params), pruneEligibleRels(q))
    var env = Env(None, Map.empty)
    q.clauses.foreach {
      case m: MatchClause  => env = planMatch(ctx, env, m)
      case u: UnwindClause => env = planUnwind(ctx, env, u)
      case w: WithClause =>
        env = planProjection(ctx, env, w.items, w.distinct, w.orderBy, w.skip,
          w.limit, isReturn = false)
        w.where.foreach { pred => env = applyWhere(ctx, env, pred) }
      case cc: CallClause =>
        env = planCall(ctx, env, cc)
      case cs: CallSubquery =>
        env = planCallSubquery(ctx, env, cs)
      case s: ShowSchemaClause =>
        val df = showSchema(ctx, s)
        env = Env(Some(df), df.columns.map(_ -> (ValueVar: Binding)).toMap)
      case r: ReturnClause =>
        env = planProjection(ctx, env, r.items, r.distinct, r.orderBy, r.skip,
          r.limit, isReturn = true)
      case _: FinishClause =>
        // FINISH (reference finishClause): evaluate nothing further, return
        // zero rows — the read side of a query is side-effect free, so the
        // empty relation IS the full semantics
        env = Env(Some(ctx.spark.emptyDataFrame), Map.empty)
      case other => throw new IllegalArgumentException(s"unexpected clause $other")
    }
    env.df.getOrElse(
      throw new IllegalArgumentException("query must end with RETURN"))
  }

  // ---- write clauses (CREATE / MERGE / SET / REMOVE / DELETE) -----------

  /** CREATE: one new node per input row per unbound pattern node, rels
    * between them. Created ids = xxhash64(runTag, statement-unique tag, row ordinal) —
    * frozen by an eager checkpoint so the nondeterministic ordinal can
    * never be recomputed differently. Ids are masked NON-NEGATIVE
    * (reference kernel ids are; queries legitimately test `id(n) >= 0`). */
  private[cypher] def nonNegId(c: org.apache.spark.sql.Column) =
    c.bitwiseAND(lit(Long.MaxValue))
  private def planCreate(ctx: Ctx, env: Env, c: CreateClause): Env = {
    var df = env.df.getOrElse(unit(ctx.spark))
    var binds = env.binds
        case class NewNode(v: String, labels: Seq[String], props: Seq[(String, Expr)])
    case class NewRel(v: String, tpe: String, from: String, to: String,
        props: Seq[(String, Expr)])
    val newNodes = Seq.newBuilder[NewNode]
    val newRels = Seq.newBuilder[NewRel]

    // property maps may read properties of entities created EARLIER in the
    // same CREATE (`(n1 {a:1})-[:R {b: n1.a}]->…`, reference Create
    // acceptance "dependencies between nodes and relationships"): those
    // entities have no hydrated columns yet, so the reference resolves
    // left-to-right — substitute the declared value expression in place
    // (absent key → NULL)
    var declaredProps = Map.empty[String, Map[String, Expr]]
    var declaredRelTypes = Map.empty[String, String]
    def substCreated(e: Expr): Expr = e match {
      case Prop(Variable(v), k) if declaredProps.contains(v) =>
        declaredProps(v).getOrElse(k, Lit(null))
      // type(m) of a rel declared EARLIER in this CREATE is a static fact
      case Func("type", Seq(Variable(v)), _) if declaredRelTypes.contains(v) =>
        Lit(declaredRelTypes(v))
      case Prop(s, k)        => Prop(substCreated(s), k)
      case Func(n, as, d)    => Func(n, as.map(substCreated), d)
      case BinOp(op, l, r)   => BinOp(op, substCreated(l), substCreated(r))
      case UnaryOp(op, o)    => UnaryOp(op, substCreated(o))
      case IsNull(o, n)      => IsNull(substCreated(o), n)
      case ListLit(xs)       => ListLit(xs.map(substCreated))
      case MapLit(es)        => MapLit(es.map { case (k, x) => (k, substCreated(x)) })
      case Index(l, i)       => Index(substCreated(l), substCreated(i))
      case Slice(l, f, t)    =>
        Slice(substCreated(l), f.map(substCreated), t.map(substCreated))
      case CaseExpr(s, ws, d) => CaseExpr(s.map(substCreated),
        ws.map { case (a, b) => (substCreated(a), substCreated(b)) },
        d.map(substCreated))
      case other => other
    }

    // `CREATE p = (…)-[…]->(…)`: the path variable binds from the created
    // entities (node/rel id sequences in pattern order)
    val pathBinds = Seq.newBuilder[(String, Seq[String], Seq[String])]
    c.patterns.foreach { p =>
      val patNodeVars = Seq.newBuilder[String]
      val patRelVars = Seq.newBuilder[String]
      // INSERT's stricter contract (reference insertClause): relationships
      // must be DIRECTED (RequiresDirectedRelationship), a bound variable
      // cannot be re-INSERTed as a standalone node, and a bound
      // relationship variable never re-appears (VariableAlreadyBound)
      if (c.insert) {
        require(!(p.hops.isEmpty && p.first.variable.exists(binds.contains)),
          s"INSERT: node variable `${p.first.variable.get}` is already bound")
        p.hops.foreach { case (r, _) =>
          require(r.dir != Both,
            "INSERT requires a directed relationship")
          r.variable.filter(binds.contains).foreach(v =>
            throw new IllegalArgumentException(
              s"INSERT: relationship variable `$v` is already bound"))
        }
      }
      // `:A&B` (one positive conjunction) is the GPM spelling of a concrete
      // label list; anything else (%, !, |) stays a labelExpr and is
      // rejected below, as in the reference
      def handleNode(np0: NodePattern): String = {
        val np = concreteLabels(np0)
        np.variable match {
        case Some(v) if binds.contains(v) =>
          require(np.labels.isEmpty && np.props.isEmpty && np.where.isEmpty,
            s"CREATE cannot re-specify bound node $v")
          v
        case other =>
          require(np.labelExpr.isEmpty && np.where.isEmpty,
            "CREATE patterns take concrete labels and no WHERE")
          val v = other.getOrElse(ctx.fresh("cn"))
          df = df.withColumn(v,
            nonNegId(xxhash64(lit(ctx.runTag), lit(ctx.freshIdTag()),
              monotonically_increasing_id())))
          binds += (v -> NodeVar)
          val props2 = np.props.map { case (k, e) => (k, substCreated(e)) }
          declaredProps += (v -> props2.toMap)
          newNodes += NewNode(v, np.labels, props2)
          v
      }}
      var fromVar = handleNode(p.first)
      patNodeVars += fromVar
      p.hops.foreach { case (rel, node) =>
        require(rel.varLength.isEmpty && rel.types.size == 1,
          "CREATE relationships need exactly one type and fixed length")
        val toVar = handleNode(node)
        patNodeVars += toVar
        val rv = rel.variable.getOrElse(ctx.fresh("cr"))
        df = df.withColumn(rv,
          nonNegId(xxhash64(lit(ctx.runTag), lit(ctx.freshIdTag()),
            monotonically_increasing_id())))
        binds += (rv -> RelVar)
        val (s, d) = rel.dir match {
          case In => (toVar, fromVar)
          case _  => (fromVar, toVar)
        }
        val rprops2 = rel.props.map { case (k, e) => (k, substCreated(e)) }
        declaredProps += (rv -> rprops2.toMap)
        declaredRelTypes += (rv -> rel.types.head)
        newRels += NewRel(rv, rel.types.head, s, d, rprops2)
        patRelVars += rv
        fromVar = toVar
      }
      p.name.foreach(pv =>
        pathBinds += ((pv, patNodeVars.result(), patRelVars.result())))
    }
    // freeze the generated ids before anything reads them twice
    val frozen = df.freshCkpt()
    var envOut = Env(Some(frozen), binds)
    val nn = newNodes.result()
    val nr = newRels.result()
    // EXISTS{}/COUNT{} in property values lower BEFORE any write lands —
    // the reference evaluates all contained subquery expressions against
    // the pre-CREATE graph (CreateAcceptance pins it), and lowering here
    // reads ctx.g before the createNodes/createRels calls below mutate it
    def lowered(e: Expr): Expr =
      if (!containsPatternExists(e)) e
      else {
        val (e2, rewritten, _) = lowerExists(ctx, envOut, e)
        envOut = e2
        rewritten
      }
    val nn2 = nn.map(n => n.copy(props = n.props.map {
      case (k, e) => (k, lowered(e)) }))
    val nr2 = nr.map(r => r.copy(props = r.props.map {
      case (k, e) => (k, lowered(e)) }))
    nn2.foreach { n =>
      val props = n.props.map { case (k, e) =>
        compile(ctx, envOut, e).as(propCol(k)) }
      val rows = envOut.df.get.select((col(n.v).as("id") +:
        lit(n.labels.toArray).as("labels") +: props): _*)
      ctx.g = UpdateOps.createNodes(ctx.g, rows)
    }
    nr2.foreach { r =>
      val props = r.props.map { case (k, e) =>
        compile(ctx, envOut, e).as(propCol(k)) }
      val rows = envOut.df.get.select((col(r.v).as("id") +: col(r.from).as("src") +:
        col(r.to).as("dst") +: lit(r.tpe).as("type") +: props): _*)
      ctx.g = UpdateOps.createRels(ctx.g, rows)
    }
    pathBinds.result().foreach { case (pv, ns, rs) =>
      envOut = envOut.copy(df = Some(envOut.df.get
        .withColumn(s"$pv$$nodes", array(ns.map(col): _*))
        .withColumn(s"$pv$$rels",
          if (rs.isEmpty) array().cast("array<bigint>")
          else array(rs.map(col): _*))
        .withColumn(s"$pv$$length", lit(rs.length))),
        binds = envOut.binds + (pv -> PathVar))
    }
    rehydrate(ctx, envOut, nn.map(_.v) ++ nr.map(_.v))
  }

  /** Join-hydrate `v$prop` columns for entity variables bound by a WRITE:
    * CREATE/MERGE bind bare ids (no hydrated scan underneath), so a
    * downstream `RETURN n.prop` would otherwise read Cypher's
    * missing-property NULL instead of the written value. Fetches only the
    * query's needed properties, from the CURRENT (post-write) snapshot. */
  private def rehydrate(ctx: Ctx, env: Env, vars: Seq[String]): Env =
    vars.foldLeft(env) { (e, v) =>
      val needed = ctx.needed.getOrElse(v, Set.empty)
      val side0 = e.binds.get(v) match {
        case Some(NodeVar) => Some(ctx.g.nodes)
        case Some(RelVar)  => Some(ctx.g.rels)
        case _             => None
      }
      (side0, e.df) match {
        case (Some(s0), Some(df)) if needed.nonEmpty =>
          // structural reads (`type(r)`, `labels(n)`, startNode/endNode ids)
          // hydrate alongside properties — a CREATE-bound rel's type(r) in a
          // later clause reads them exactly like MATCH-bound ones do
          val structural = e.binds.get(v) match {
            case Some(RelVar)  => Set("type", "src", "dst")
            case Some(NodeVar) => Set("labels")
            case _             => Set.empty[String]
          }
          val avail = s0.columns.toSet -- Set("id", "src", "dst", "type") ++
            (structural & s0.columns.toSet & needed)
          val props = (if (needed("*")) (avail - "labels").map(colProp)
            else needed.filter(n => avail(propCol(n)))).toSeq.sorted
          val withProps =
            if (props.isEmpty) e
            else {
              val side = s0.select((col("id").as(v) +:
                props.map(p => col(propCol(p)).as(s"$v$$$p"))): _*)
              e.copy(df = Some(df.drop(props.map(p => s"$v$$$p"): _*)
                .join(side, Seq(v), "left_outer")))
            }
          // startNode(r).k / endNode(r).k on a CREATE/MERGE-bound rel:
          // hydrate the endpoint marker columns through the CURRENT
          // snapshot (rels → endpoint node), mirroring expandHop's markers
          if (e.binds.get(v).contains(RelVar)) {
            def markers(marker: String, idCol: String,
                acc: Env): Env = {
              val ks = needed.collect {
                case s if s.startsWith(marker) => s.stripPrefix(marker)
              }.filter(k => ctx.g.nodes.columns.contains(propCol(k))).toSeq.sorted
              val missing = ks.filterNot(k => acc.df.exists(
                _.columns.contains(s"$v$$$marker$k")))
              if (missing.isEmpty) acc
              else {
                val side = ctx.g.rels.select(col("id").as(v),
                    col(idCol).as("__epid"))
                  .join(ctx.g.nodes.select((col("id").as("__epid") +:
                    missing.map(k => col(propCol(k))
                      .as(s"$v$$$marker$k"))): _*), Seq("__epid"))
                  .drop("__epid")
                acc.copy(df = acc.df.map(_.join(side, Seq(v), "left_outer")))
              }
            }
            markers("__en_", "dst", markers("__sn_", "src", withProps))
          } else withProps
        case _ => e
      }
    }

  /** A label EXPRESSION that is one conjunction of positive labels
    * (`:A&B`) is equivalent to the plain label list — normalize so write
    * clauses (CREATE/MERGE take concrete labels) accept it. */
  private def concreteLabels(np: NodePattern): NodePattern = np.labelExpr match {
    // the '%' wildcard atom is NOT a concrete label — collapsing it would
    // create a node literally labeled "%"
    case Some(Seq(conj)) if conj.forall(a => !a.negated && a.name != "%") =>
      np.copy(labels = (np.labels ++ conj.map(_.name)).distinct, labelExpr = None)
    case _ => np
  }

  /** MERGE on a single node pattern (match by labels + key properties,
    * create missing with ids derived from the key — idempotent), or on a
    * single relationship between bound endpoints (match by (src,dst,type)),
    * or the general correlated whole-pattern form (planMergeGeneral). */
  private def planMerge(ctx: Ctx, env: Env, m0: MergeClause): Env = {
    val m = m0.copy(pattern = m0.pattern.copy(
      first = concreteLabels(m0.pattern.first),
      hops = m0.pattern.hops.map { case (r, n) => (r, concreteLabels(n)) }))
    // any label EXPRESSION that survived the concrete-conjunction collapse
    // (%, !, |) cannot name what to create — the reference rejects it in
    // MERGE at semantic analysis, for unbound pattern nodes
    (m.pattern.first +: m.pattern.hops.map(_._2))
      .filterNot(_.variable.exists(env.has)).foreach { np =>
        require(np.labelExpr.isEmpty,
          "MERGE patterns take concrete labels " +
            "(no %, !, | label expressions)")
      }
    val df = env.df.getOrElse(unit(ctx.spark))
    val p = m.pattern
    // Whole-pattern MERGE with UNBOUND endpoints, uncorrelated with the
    // incoming rows (reference MergePipe whole-pattern semantics): match
    // the entire pattern against the graph; when nothing matches, create
    // ONE instance and re-match — then splice the bound pattern into every
    // input row. The per-row correlated forms below handle bound
    // endpoints / single-node keys.
    val patVars = ((p.first +: p.hops.map(_._2)).flatMap(_.variable) ++
      p.hops.flatMap(_._1.variable))
    // dynamic inline props (reading row variables, e.g. a FOREACH loop
    // variable) make the pattern row-CORRELATED — the uncorrelated
    // whole-pattern probe below would evaluate them as scan constants
    val allPropsConst = (p.first +: p.hops.map(_._2)).forall(_.props.forall {
      case (_, _: Lit | _: Param) => true; case _ => false
    }) && p.hops.map(_._1).forall(_.props.forall {
      case (_, _: Lit | _: Param) => true; case _ => false
    })
    if (!patVars.exists(env.has) && allPropsConst &&
        (p.hops.nonEmpty || p.first.props.isEmpty)) {
      val probe = MatchClause(optional = false, Seq(p), None)
      // MERGE runs per input row (reference MergePipe): zero incoming rows
      // mean no probe, no writes — return the empty cross product. ONE
      // limit(2) action derives both emptiness and multiplicity; the
      // upstream pipeline runs once, not once per question
      val inputMult = env.df.fold(1L)(_.limit(2).count())
      val inputEmpty = inputMult == 0L
      if (inputEmpty) {
        val matched0 = planMatch(ctx, Env(None, Map.empty), probe)
        return Env(Some(df.crossJoin(matched0.df.get.limit(0))),
          env.binds ++ matched0.binds)
      }
      val matched0 = planMatch(ctx, Env(None, Map.empty), probe)
      val created = matched0.df.forall(_.isEmpty)
      val bound =
        if (!created) matched0
        else {
          planCreate(ctx, Env(None, Map.empty), CreateClause(Seq(p)))
          planMatch(ctx, Env(None, Map.empty), probe)
        }
      if (created) {
        if (m.onCreate.nonEmpty) planSetItemsOn(ctx, bound, m.onCreate)
        // with k > 1 input rows, only the first CREATES — the rest match
        // the instance it made, so ON MATCH fires for them (reference
        // per-row semantics; applied once set-based)
        if (m.onMatch.nonEmpty && inputMult > 1L) {
          val rebound = planMatch(ctx, Env(None, Map.empty), probe)
          if (!rebound.df.forall(_.isEmpty))
            planSetItemsOn(ctx, rebound, m.onMatch)
        }
      } else if (m.onMatch.nonEmpty) planSetItemsOn(ctx, bound, m.onMatch)
      val rehydrated = rehydrate(ctx, bound,
        patVars.filter(bound.binds.contains))
      return Env(Some(df.crossJoin(rehydrated.df.get)),
        env.binds ++ rehydrated.binds)
    }
    // partially-bound / mid-pattern-bound / multi-hop / dynamic-prop
    // whole-pattern MERGE
    if (p.hops.nonEmpty &&
        (patVars.exists(env.has) || !allPropsConst) &&
        !(p.hops.size == 1 && p.first.variable.exists(env.has) &&
          p.hops.head._2.variable.exists(env.has)))
      return planMergeGeneral(ctx, env, m)
    if (p.hops.isEmpty) {
      val np = p.first
      val v = np.variable.getOrElse(ctx.fresh("mn"))
      require(np.props.nonEmpty, "node MERGE needs a key property map")
      require(np.labelExpr.isEmpty && np.where.isEmpty,
        "MERGE patterns take concrete labels and no WHERE")
      // pattern/subquery expressions in key VALUES evaluate against the
      // pre-MERGE graph (reference MergeLegacyAcceptance "Evaluate pattern
      // comprehension in MERGE") — lower them to columns first
      var envK = env.copy(df = Some(df))
      val keyFlags = Seq.newBuilder[String]
      val keyCols = np.props.map { case (k, e0) =>
        val e = if (containsPatternExists(e0)) {
          val (en, rew, fl) = lowerExists(ctx, envK, e0)
          envK = en; keyFlags ++= fl; rew
        } else e0
        k -> compile(ctx, envK, e)
      }
      // compute key values per row
      var keyed = envK.df.get
      keyCols.foreach { case (k, c) => keyed = keyed.withColumn(s"__mk_$k", c) }
      keyed = keyed.drop(keyFlags.result(): _*)
      // existing node per key (min id when several match the key pattern);
      // a key property the graph has never seen matches nothing — every row
      // creates (createNodes extends the schema with the new column)
      var scan = ctx.g.nodes
      np.labels.foreach(l => scan = scan.filter(array_contains(col("labels"), l)))
      val joined =
        if (np.props.exists { case (k, _) => !scan.columns.contains(propCol(k)) })
          keyed.withColumn("__mid", lit(null).cast("long"))
        else {
          val existing = scan
            .groupBy(np.props.map { case (k, _) =>
              col(propCol(k)).as(s"__mk_$k") }: _*)
            .agg(min(col("id")).as("__mid"))
          keyed.join(existing,
            np.props.map { case (k, _) => s"__mk_$k" }, "left_outer")
        }
      // deterministic id from the key → MERGE is idempotent across the
      // clause's rows; the statement-unique tag keeps two MERGE clauses
      // with equal keys but different labels from colliding ids
      val newId = nonNegId(xxhash64((lit(ctx.runTag) +: lit("m") +:
        lit(ctx.freshIdTag()) +:
        np.props.map { case (k, _) => col(s"__mk_$k") }): _*))
      val resolved = joined
        .withColumn(v, coalesce(col("__mid"), newId))
        .withColumn("__created", col("__mid").isNull)
        .freshCkpt()
      // insert the missing keys (distinct — one node per key, as MERGE requires)
      val inserts = resolved.filter(col("__created"))
        .select((col(v).as("id") +: lit(np.labels.toArray).as("labels") +:
          np.props.map { case (k, _) => col(s"__mk_$k").as(propCol(k)) }): _*)
        .distinct()
      ctx.g = UpdateOps.createNodes(ctx.g, inserts)
      val envOut = Env(Some(resolved.drop(np.props.map(kv => s"__mk_${kv._1}"): _*)
        .drop("__mid")), env.binds + (v -> NodeVar))
      applyMergeActions(ctx, envOut, v, m, col("__created"))
      rehydrate(ctx, envOut.copy(df = envOut.df.map(_.drop("__created"))), Seq(v))
    } else {
      require(p.hops.size == 1, "relationship MERGE supports a single hop")
      val (rel, toNode) = p.hops.head
      val fromVar = p.first.variable.getOrElse(
        throw new IllegalArgumentException("rel MERGE endpoints must be bound"))
      val toVar = toNode.variable.getOrElse(
        throw new IllegalArgumentException("rel MERGE endpoints must be bound"))
      require(env.has(fromVar) && env.has(toVar), "rel MERGE endpoints must be bound")
      require(rel.types.size == 1 && rel.varLength.isEmpty,
        "rel MERGE needs exactly one type")
      val rv = rel.variable.getOrElse(ctx.fresh("mr"))
      val (sCol, dCol) = rel.dir match {
        case In => (col(toVar), col(fromVar))
        case _  => (col(fromVar), col(toVar))
      }
      val tpe = rel.types.head
      val keyProps = rel.props.map { case (k, e) => k -> compile(ctx, env, e) }
      val props = keyProps.map { case (k, c) => c.as(propCol(k)) }
      // id derives from the FULL pattern key (type + inline props included):
      // two MERGEs of different types/props between the same endpoints must
      // create distinct rels with distinct ids
      // UNDIRECTED rel MERGE `(a)-[:T]-(b)` matches EITHER orientation
      // (reference MergePipe pattern match); only a pair connected in
      // neither direction inserts. The generated ID canonicalizes
      // (least, greatest) so input rows carrying both orientations of one
      // pair — e.g. a symmetric MATCH product — share one id, but the
      // STORED rel keeps the pattern's left-to-right src/dst (the
      // reference creates in pattern direction — observable by a later
      // directed MATCH or startNode()/endNode()); with both orientations
      // present, the smaller-src row wins deterministically.
      val undirected = rel.dir == Both
      val (s0, d0) =
        if (undirected) (least(sCol, dCol), greatest(sCol, dCol))
        else (sCol, dCol)
      val newId = nonNegId(xxhash64((lit(ctx.runTag) +: lit("mr") +: lit(tpe) +:
        s0 +: d0 +: keyProps.map(_._2)): _*))
      val source00 = df.select((newId.as("id") +:
        sCol.as("src") +: dCol.as("dst") +: lit(tpe).as("type") +: props): _*)
        .distinct()
      val source0 =
        if (!undirected) source00
        else source00.withColumn("__orn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("id")
              .orderBy(col("src").asc, col("dst").asc)))
          .filter(col("__orn") === 1).drop("__orn")
      val source =
        if (!undirected) source0
        else {
          val rev = ctx.g.rels.filter(col("type") === tpe)
            .select((col("src").as("__vs") +: col("dst").as("__vd") +:
              keyProps.map { case (k, _) => col(propCol(k)).as(s"__vp_$k") }): _*)
          val revCond = keyProps.foldLeft(
            col("src") === col("__vd") && col("dst") === col("__vs")) {
            case (c, (k, _)) => c && (col(propCol(k)) <=> col(s"__vp_$k"))
          }
          source0.join(rev, revCond, "left_anti")
        }
      ctx.g = UpdateOps.mergeRels(ctx.g, source,
        keyProps = keyProps.map(kv => propCol(kv._1)))
      // bind the rel id: matched rels keep their original id — re-resolve on
      // the full key (props null-safe, mirroring mergeRels' match condition;
      // either orientation for the undirected form)
      val relSide = ctx.g.rels.filter(col("type") === tpe)
        .select((col("id").as(rv) +: col("src").as("__ms") +: col("dst").as("__md") +:
          keyProps.map { case (k, _) => col(propCol(k)).as(s"__mp_$k") }): _*)
      val orient =
        if (undirected)
          (sCol === col("__ms") && dCol === col("__md")) ||
            (sCol === col("__md") && dCol === col("__ms"))
        else sCol === col("__ms") && dCol === col("__md")
      val joinCond = keyProps.foldLeft(orient) {
        case (c, (k, v)) => c && (v <=> col(s"__mp_$k"))
      }
      val withRel = df.join(relSide, joinCond)
        .drop(("__ms" +: "__md" +: keyProps.map(kv => s"__mp_${kv._1}")): _*)
      rehydrate(ctx, Env(Some(withRel), env.binds + (rv -> RelVar)), Seq(rv))
    }
  }

  /** General correlated whole-pattern MERGE: partially-bound endpoints,
    * mid-pattern bound nodes, multi-hop chains (reference MergePipe;
    * MergeLegacyAcceptance "Using bound nodes in mid-pattern"). Per input
    * row, OPTIONAL-match the WHOLE pattern with the bound variables
    * constrained; rows with no match create the ENTIRE pattern — one
    * instance per distinct combination of bound values (the reference
    * reads its own writes: a second row with equal bound values matches
    * what the first created, so ids derive deterministically from them). */
  private def planMergeGeneral(ctx: Ctx, env: Env, m: MergeClause): Env = {
    val df0 = env.df.getOrElse(unit(ctx.spark))
    def named(np: NodePattern): NodePattern = np.variable match {
      case Some(_) => np
      case None    => np.copy(variable = Some(ctx.fresh("mgn")))
    }
    val first = named(m.pattern.first)
    val hops = m.pattern.hops.map { case (r, n) =>
      (if (r.variable.isDefined) r
       else r.copy(variable = Some(ctx.fresh("mgr"))), named(n))
    }
    hops.foreach { case (r, _) =>
      require(r.varLength.isEmpty && r.types.size == 1 && r.branches.isEmpty,
        "MERGE relationships need exactly one type and fixed length")
    }
    ((first +: hops.map(_._2)).filterNot(_.variable.exists(env.has)))
      .foreach { np =>
        require(np.labelExpr.isEmpty && np.where.isEmpty,
          "MERGE patterns take concrete labels and no WHERE")
      }
    val p = m.pattern.copy(first = first, hops = hops)
    val allVars = ((first +: hops.map(_._2)).flatMap(_.variable) ++
      hops.flatMap(_._1.variable))
    val boundVars = allVars.filter(env.has).distinct
    val newVars = allVars.filterNot(env.has).distinct
    require(newVars.nonEmpty, "whole-pattern MERGE with all variables bound")
    // DYNAMIC inline props (`{prop: x}` reading row variables — e.g. the
    // FOREACH loop variable, ForeachAcceptance "Merging inside a FOREACH
    // using a previously matched node") cannot be scan-time seeks: lift
    // them off the probe into its WHERE (per-row equality; the optional
    // match correlates on every referenced bound variable), and key the
    // CREATED instances on their computed values so rows with distinct
    // values create distinct instances (reference MergePipe row semantics)
    def isConstP(e: Expr): Boolean = e match {
      case _: Lit | _: Param => true
      case _                 => false
    }
    val liftedPreds = List.newBuilder[Expr]
    val dynKeyExprs = Seq.newBuilder[Expr]
    def probeNode(np: NodePattern): NodePattern =
      if (np.variable.exists(env.has) ||
          np.props.forall(kv => isConstP(kv._2))) np
      else {
        val (const, dyn) = np.props.partition(kv => isConstP(kv._2))
        dyn.foreach { case (k, e) =>
          liftedPreds += BinOp("=", Prop(Variable(np.variable.get), k), e)
          dynKeyExprs += e
        }
        np.copy(props = const)
      }
    def probeRel(r: RelPattern): RelPattern =
      if (r.variable.exists(env.has) ||
          r.props.forall(kv => isConstP(kv._2))) r
      else {
        val (const, dyn) = r.props.partition(kv => isConstP(kv._2))
        dyn.foreach { case (k, e) =>
          liftedPreds += BinOp("=", Prop(Variable(r.variable.get), k), e)
          dynKeyExprs += e
        }
        r.copy(props = const)
      }
    val probeP = p.copy(first = probeNode(first),
      hops = hops.map { case (r, n) => (probeRel(r), probeNode(n)) })
    val liftedList = liftedPreds.result()
    // the lifted `v.k = expr` reads are plan-time synthesized — register
    // their property needs so the probe hydrates `v$$k` (the statement's
    // neededProps pre-pass saw only the inline map, not these reads)
    liftedList.foreach {
      case BinOp("=", Prop(Variable(v), k), _) =>
        ctx.needed = ctx.needed + (v -> (ctx.needed.getOrElse(v, Set.empty) + k))
      case _ => ()
    }
    val probeWhere = liftedList.reduceOption(BinOp("AND", _, _))
    val probe = MatchClause(optional = true, Seq(probeP), probeWhere)
    val matchedEnv = planOptionalMatch(ctx, env.copy(df = Some(df0)), probe)
    val mdf = matchedEnv.df.get.freshCkpt() // snapshot before any write
    // the whole pattern matches or none of it does: one new var decides
    val isMatched = col(newVars.head).isNotNull
    val missing0 = mdf.filter(!isMatched)
    // dynamic-prop key columns ride on the missing rows (creation key)
    var missing = missing0
    val dynKeyCols = dynKeyExprs.result().zipWithIndex.map { case (e, i) =>
      val cn = s"__mgk_$i"
      missing = missing.withColumn(cn,
        compile(ctx, matchedEnv.copy(df = Some(missing)), e))
      cn
    }
    val keyColsAll = boundVars ++ dynKeyCols
    // deterministic per-combination ids (same expressions create and bind)
    val idExprs: Seq[(String, Column)] = newVars.map { v =>
      v -> nonNegId(xxhash64((lit(ctx.runTag) +: lit("mg") +: lit(ctx.freshIdTag()) +:
        keyColsAll.map(col)): _*))
    }
    var keyRows =
      if (keyColsAll.isEmpty) missing.limit(1)
      else missing.dropDuplicates(keyColsAll)
    idExprs.foreach { case (v, e) => keyRows = keyRows.withColumn(v, e) }
    keyRows = keyRows.freshCkpt()
    val compEnv = matchedEnv.copy(df = Some(keyRows))
    (first +: hops.map(_._2)).filterNot(_.variable.exists(env.has))
      .distinctBy(_.variable).foreach { np =>
        val v = np.variable.get
        val props = np.props.map { case (k, e) =>
          compile(ctx, compEnv, e).as(propCol(k)) }
        ctx.g = UpdateOps.createNodes(ctx.g, keyRows.select((col(v).as("id") +:
          lit(np.labels.toArray).as("labels") +: props): _*))
      }
    var fromV = first.variable.get
    hops.foreach { case (r, n) =>
      val toV = n.variable.get
      if (!r.variable.exists(env.has)) {
        val rv = r.variable.get
        val (s0, d0) = r.dir match {
          case In => (toV, fromV)
          case _  => (fromV, toV)
        }
        val props = r.props.map { case (k, e) =>
          compile(ctx, compEnv, e).as(propCol(k)) }
        ctx.g = UpdateOps.createRels(ctx.g, keyRows.select((col(rv).as("id") +:
          col(s0).as("src") +: col(d0).as("dst") +:
          lit(r.types.head).as("type") +: props): _*))
      }
      fromV = toV
    }
    // result rows: matched bindings union created bindings (same ids the
    // inserts used — no re-match needed)
    var created = missing
    idExprs.foreach { case (v, e) => created = created.withColumn(v, e) }
    // refresh the hydrated STRUCTURAL columns the optional match left null
    // on non-matching rows — the created values are statically known
    locally {
      var fv = first.variable.get
      hops.foreach { case (r, n) =>
        val toV = n.variable.get
        r.variable.filterNot(env.has).foreach { rv =>
          val cols0 = created.columns.toSet
          if (cols0(s"$rv$$type"))
            created = created.withColumn(s"$rv$$type", lit(r.types.head))
          val (s0, d0) = r.dir match {
            case In => (toV, fv)
            case _  => (fv, toV)
          }
          if (cols0(s"$rv$$src"))
            created = created.withColumn(s"$rv$$src", col(s0))
          if (cols0(s"$rv$$dst"))
            created = created.withColumn(s"$rv$$dst", col(d0))
        }
        fv = toV
      }
      (first +: hops.map(_._2)).filterNot(_.variable.exists(env.has))
        .foreach { np =>
          val v = np.variable.get
          if (created.columns.contains(s"$v$$labels"))
            created = created.withColumn(s"$v$$labels",
              lit(np.labels.toArray))
        }
    }
    val flag = "__mg_created"
    val union = mdf.filter(isMatched).withColumn(flag, lit(false))
      .unionByName(created.drop(dynKeyCols: _*).withColumn(flag, lit(true)))
    val out = Env(Some(union), env.binds ++ matchedEnv.binds)
    applyMergeActions(ctx, out, newVars.head, m, col(flag))
    val out2 = out.copy(df = out.df.map(_.drop(flag)))
    // `MERGE p = (a)-[:R]->()` — the path value binds from the (now all
    // named) pattern elements, in pattern order
    val withPath = m.pattern.name.fold(out2) { pv =>
      val nodeVars = (first +: hops.map(_._2)).map(_.variable.get)
      val relVars = hops.map(_._1.variable.get)
      out2.copy(df = out2.df.map(_
        .withColumn(s"$pv$$nodes", array(nodeVars.map(col): _*))
        .withColumn(s"$pv$$rels", array(relVars.map(col): _*))
        .withColumn(s"$pv$$length", lit(hops.size))),
        binds = out2.binds + (pv -> PathVar))
    }
    rehydrate(ctx, withPath, newVars)
  }

  /** ON MATCH SET / ON CREATE SET for node MERGE. The merge binds a bare
    * id, so the node's stored properties are hydrated first: a SET value
    * such as `c.acctbal + $x` reads the matched node's current value. */
  private def applyMergeActions(ctx: Ctx, env0: Env, mergedVar: String,
      m: MergeClause, createdFlag: Column): Unit = {
    if (m.onCreate.isEmpty && m.onMatch.isEmpty) return
    val env = rehydrate(ctx, env0, Seq(mergedVar))
    def apply(items: Seq[SetItem], filter: Column): Unit = {
      if (items.isEmpty) return
      val rows = env.df.get.filter(filter)
      planSetItemsOn(ctx, Env(Some(rows), env.binds), items)
    }
    apply(m.onCreate, createdFlag)
    apply(m.onMatch, !createdFlag)
  }

  /** is the expression an entity-typed (node/rel/path) variable? Used by
    * the conversion functions, which must not treat the backing id column
    * as a convertible scalar. */
  private def entityArg(env: Env, e: Expr): Boolean = e match {
    case Variable(v) => env.binds.get(v).exists {
      case NodeVar | RelVar | PathVar => true
      case _ => false
    }
    case _ => false
  }

  /** every bound Node/Rel variable of the environment (rehydration scope
    * after a write clause). */
  private def entityVars(env: Env): Seq[String] =
    env.binds.collect {
      case (v, NodeVar) => v
      case (v, RelVar)  => v
    }.toSeq.sorted

  private def setItemVars(items: Seq[SetItem]): Seq[String] =
    items.flatMap {
      case SetProp(v, _, _)        => Seq(v)
      case SetPropsFromMap(v, _, _) => Seq(v)
      case SetLabelsItem(v, _)     => Seq(v)
      case RemoveProp(v, _)        => Seq(v)
      case RemovePropExpr(s, _)    => exprVars(s).toSeq
      case RemoveLabelsItem(v, _)  => Seq(v)
    }.distinct

  private def planSetItems(ctx: Ctx, env: Env, items: Seq[SetItem]): Unit =
    planSetItemsOn(ctx, env, items)

  private def planSetItemsOn(ctx: Ctx, env0: Env, items0: Seq[SetItem]): Unit = {
    // EXISTS{}/COUNT{}/COLLECT{} in a SET value lower to flag columns first
    var env = env0
    val items = items0.map {
      case SetProp(v, k, value) if containsPatternExists(value) =>
        val (e2, rewritten, _) = lowerExists(ctx,
          env.copy(df = Some(env.df.getOrElse(unit(ctx.spark)))), value)
        env = e2
        SetProp(v, k, rewritten)
      case other => other
    }
    val df = env.df.getOrElse(
      throw new IllegalArgumentException("SET/REMOVE needs bound rows"))
    items.foreach {
      case SetProp(v, key, value) =>
        val kind = env.binds.getOrElse(v,
          throw new IllegalArgumentException(s"unknown variable $v"))
        val source = df.select(col(v).as("id"),
          compile(ctx, env, value).as(propCol(key)))
        kind match {
          case NodeVar => ctx.g = UpdateOps.setNodePropertiesFromSource(ctx.g, source)
          case RelVar  => ctx.g = UpdateOps.setRelPropertiesFromSource(ctx.g, source)
          case other   => throw new IllegalArgumentException(s"cannot SET on $other")
        }
      case SetPropsFromMap(v, m, additive) =>
        val entries = m match {
          case MapLit(es) => es
          case Param(n) => ctx.params.getOrElse(n,
            throw new IllegalArgumentException(s"missing parameter $$$n")) match {
            case mm: Map[_, _] => anyToLitExpr(mm) match {
              case MapLit(es) => es
              case _ => Seq.empty
            }
            case other => throw new IllegalArgumentException(
              s"SET from a non-map parameter $$$n ($other)")
          }
          case other => throw new IllegalArgumentException(
            "SET from a map needs a literal map or map parameter — " +
              "the columnar schema is static")
        }
        val kind = env.binds.getOrElse(v,
          throw new IllegalArgumentException(s"unknown variable $v"))
        val cols = entries.map { case (k, e) =>
          compile(ctx, env, e).as(propCol(k)) }
        def sourceWith(target: DataFrame, keep: Set[String]): DataFrame = {
          // replace form: every property column outside the map nulls out
          val others =
            if (additive) Seq.empty
            else target.columns
              .filterNot(keep ++ entries.map(kv => propCol(kv._1))).toSeq
              .map(p => lit(null).cast(target.schema(p).dataType).as(p))
          df.select((col(v).as("id") +: (cols ++ others)): _*)
        }
        kind match {
          case NodeVar => ctx.g = UpdateOps.setNodePropertiesFromSource(ctx.g,
            sourceWith(ctx.g.nodes, Set("id", "labels")))
          case RelVar  => ctx.g = UpdateOps.setRelPropertiesFromSource(ctx.g,
            sourceWith(ctx.g.rels, Set("id", "src", "dst", "type")))
          case other   => throw new IllegalArgumentException(s"cannot SET on $other")
        }
      case RemoveProp(v, key) =>
        val source = df.select(col(v).as("id"), lit(null).as(propCol(key)))
        env.binds(v) match {
          case NodeVar => ctx.g = UpdateOps.setNodePropertiesFromSource(ctx.g, source)
          case RelVar  => ctx.g = UpdateOps.setRelPropertiesFromSource(ctx.g, source)
          case other   => throw new IllegalArgumentException(s"cannot REMOVE on $other")
        }
      case RemovePropExpr(subj0, key) =>
        // entity-valued expression target: evaluate against the pre-update
        // snapshot rows (reference: no item-by-item visibility)
        val kind = entityExprKind(env, subj0).getOrElse(
          throw new IllegalArgumentException(
            s"REMOVE target is not an entity-valued expression: $subj0"))
        val subj =
          if (containsPatternExists(subj0)) {
            val (e2, rewritten, _) = lowerExists(ctx, env, subj0)
            env = e2
            rewritten
          } else subj0
        val source = env.df.get
          .select(compile(ctx, env, subj).as("id"),
            lit(null).as(propCol(key)))
          .filter(col("id").isNotNull)
        kind match {
          case RelVar => ctx.g = UpdateOps.setRelPropertiesFromSource(ctx.g, source)
          case _      => ctx.g = UpdateOps.setNodePropertiesFromSource(ctx.g, source)
        }
      case SetLabelsItem(v, labels) =>
        ctx.g = UpdateOps.setLabels(ctx.g, df.select(col(v).as("id")), add = labels)
      case RemoveLabelsItem(v, labels) =>
        ctx.g = UpdateOps.setLabels(ctx.g, df.select(col(v).as("id")), remove = labels)
    }
  }

  /** FOREACH (v IN list | updates): scoped UNWIND feeding the update
    * clauses; bindings do NOT escape (reference Foreach :2082 semantics). */
  private def planForeach(ctx: Ctx, env: Env, f: ForeachClause): Env = {
    val df = env.df.getOrElse(unit(ctx.spark))
    def runBody(inner0: Env): Unit = {
      var inner = inner0
      f.updates.foreach {
        case c: CreateClause  => inner = planCreate(ctx, inner, c)
        case m: MergeClause   => inner = planMerge(ctx, inner, m)
        case s: SetClause     => planSetItems(ctx, inner, s.items)
        case r: RemoveClause  => planSetItems(ctx, inner, r.items)
        case d: DeleteClause  => planDelete(ctx, inner, d)
        case nested: ForeachClause => inner = planForeach(ctx, inner, nested)
        case other => throw new IllegalArgumentException(s"FOREACH cannot contain $other")
      }
    }
    f.list match {
      case ListLit(elems) if elems.nonEmpty && elems.size <= 16 &&
          !elems.exists(containsPatternExists) =>
        // literal-list FOREACH unrolls iteration by iteration: a later
        // iteration's MERGE/MATCH probes OBSERVE earlier iterations'
        // writes (reference Foreach row-major semantics —
        // ForeachAcceptance "Inside nested FOREACH, nodes inlined", where
        // iteration k's MERGE matches patterns iteration k-1 created).
        // Bounded by the query text (≤16 elements), never by data; data
        // lists keep the set-based explode below.
        elems.foreach { e =>
          val preIter = ctx.g
          runBody(Env(
            Some(df.withColumn(f.variable,
              compile(ctx, env.copy(df = Some(df)), e))),
            env.binds + (f.variable -> ValueVar)))
          // PHYSICAL materialization only (dirty tables localCheckpoint),
          // not a transaction boundary: keeps the next iteration's probes
          // planning against a shallow scan instead of k stacked write
          // layers — plan cost per iteration stays O(1), not O(k)
          ctx.g = Planner.commitChanged(preIter, ctx.g, Planner.defaultTxCommit)
        }
      case _ =>
        runBody(Env(
          Some(df.withColumn(f.variable,
            explode(compile(ctx, env.copy(df = Some(df)), f.list)))),
          env.binds + (f.variable -> ValueVar)))
    }
    env // bindings inside FOREACH are scoped — outer env unchanged
  }

  private def planDelete(ctx: Ctx, env0: Env, d: DeleteClause): Unit = {
    if (d.variables.isEmpty && d.exprs.isEmpty) return // DELETE null — no-op
    var env = env0
    val df0 = env.df.getOrElse(
      throw new IllegalArgumentException("DELETE needs bound rows"))
    val (relVarsToDelete, nodeVars) = d.variables.partition(v =>
      env.binds.get(v).contains(RelVar))
    relVarsToDelete.foreach { v =>
      ctx.g = UpdateOps.deleteRels(ctx.g, df0.select(col(v).as("id")))
    }
    nodeVars.foreach { v =>
      require(env.binds.get(v).contains(NodeVar), s"$v is not deletable")
      ctx.g = UpdateOps.deleteNodes(ctx.g, df0.select(col(v).as("id")), d.detach)
    }
    // expression targets (`DELETE (COLLECT {…}[0])`): every target
    // evaluates against the PRE-delete snapshot rows (reference: no
    // item-by-item or row-by-row visibility of the clause's own deletes)
    d.exprs.foreach { e0 =>
      val kind = entityExprKind(env, e0).getOrElse(
        throw new IllegalArgumentException(
          s"DELETE target is not an entity-valued expression: $e0"))
      val e =
        if (containsPatternExists(e0)) {
          val (e2, rewritten, _) = lowerExists(ctx, env, e0)
          env = e2
          rewritten
        } else e0
      val ids = env.df.get
        .select(compile(ctx, env, e).as("id")).filter(col("id").isNotNull)
      kind match {
        case RelVar => ctx.g = UpdateOps.deleteRels(ctx.g, ids)
        case _      => ctx.g = UpdateOps.deleteNodes(ctx.g, ids, d.detach)
      }
    }
  }

  /** Static entity kind of an entity-valued EXPRESSION (a DELETE/REMOVE
    * target): variables, indexed entity lists, indexed pattern
    * comprehensions / COLLECT{} of an entity, CASE over same-kind
    * entities. None = not statically an entity. */
  private def entityExprKind(env: Env, e: Expr): Option[Binding] = e match {
    case Variable(v) => env.binds.get(v).collect {
      case NodeVar => NodeVar; case RelVar => RelVar }
    case Index(l, _) => entityElemKind(env, l)
    case Func("head" | "last", Seq(l), _) => entityElemKind(env, l)
    case CaseExpr(_, ws, dflt) =>
      val ks = (ws.map(_._2) ++ dflt.toSeq).map(entityExprKind(env, _))
      if (ks.nonEmpty && ks.forall(_.isDefined) &&
          ks.flatten.distinct.size == 1) ks.head
      else None
    case Func("coalesce", as, _) =>
      val ks = as.map(entityExprKind(env, _))
      if (ks.nonEmpty && ks.forall(_.isDefined) &&
          ks.flatten.distinct.size == 1) ks.head
      else None
    case _ => None
  }

  /** element kind of an entity-LIST expression */
  private def entityElemKind(env: Env, l: Expr): Option[Binding] =
    entityListKind(env, l) match {
      case Some(NodeListVar) => Some(NodeVar)
      case Some(RelListVar)  => Some(RelVar)
      case _ => l match {
        case PatternComprehension(p, _, Variable(v), _, _, _) =>
          if ((p.first +: p.hops.map(_._2)).flatMap(_.variable).contains(v))
            Some(NodeVar)
          else if (p.hops.flatMap(_._1.variable).contains(v)) Some(RelVar)
          else None
        case SubqueryExpr(k, q) if k.equalsIgnoreCase("collect") =>
          for {
            part <- q.parts.headOption
            ret <- part.clauses.collectFirst { case r: ReturnClause => r }
            v <- ret.items.headOption.map(_.expr).collect {
              case Variable(v2) => v2 }
            kind <- {
              val ms = part.clauses.collect { case m: MatchClause => m }
              val nodeVs = ms.flatMap(_.patterns.flatMap(p =>
                (p.first +: p.hops.map(_._2)).flatMap(_.variable)))
              val relVs = ms.flatMap(_.patterns.flatMap(
                _.hops.flatMap(_._1.variable)))
              if (nodeVs.contains(v)) Some(NodeVar)
              else if (relVs.contains(v)) Some(RelVar)
              else None
            }
          } yield kind
        case _ => None
      }
    }

  // ---- whole-query pre-walk: which properties does each variable need? ---

  /** Map var → property names read anywhere in the query (`v.prop`,
    * `labels(v)`, `type(r)`, `startNode(r)`, `endNode(r)`), so each variable
    * is hydrated exactly once, at bind time. */
  private def neededProps(q: SingleQuery,
      params: Map[String, Any] = Map.empty): Map[String, Set[String]] = {
    // path variables: a bare reference (RETURN p / WITH p) needs the full
    // rel + node sequences, not just p$length
    val pathVars: Set[String] = {
      val acc = scala.collection.mutable.Set.empty[String]
      def pc(cl: Clause): Unit = cl match {
        case MatchClause(_, ps, _, sh, _) =>
          ps.foreach(p => acc ++= p.name)
          sh.foreach(s => acc ++= s.pathVar)
        case c: CallSubquery => c.innerQ.parts.foreach(_.clauses.foreach(pc))
        case _ => ()
      }
      q.clauses.foreach(pc)
      acc.toSet
    }
    val acc = scala.collection.mutable.Map.empty[String, Set[String]]
    def add(v: String, p: String): Unit = acc(v) = acc.getOrElse(v, Set.empty) + p
    def walk(e: Expr): Unit = e match {
      // length(p) needs only p$length (always bound) — not the sequences
      case Func("length" | "size", Seq(Variable(v)), _) if pathVars(v) => ()
      case Variable(v) if pathVars(v) => add(v, "rels"); add(v, "nodes")
      case Prop(Variable(v), k) => add(v, k)
      // startNode(r).k / endNode(r).k: the endpoint's property hydrates
      // through the rel (marker keys; expandHop joins the nodes table)
      case Prop(Func(f @ ("startnode" | "endnode"), Seq(Variable(v)), _), k) =>
        add(v, if (f == "startnode") "src" else "dst")
        add(v, (if (f == "startnode") "__sn_" else "__en_") + k)
      case Prop(s, _)           => walk(s)
      case Func("labels", Seq(Variable(v)), _)    => add(v, "labels")
      case Func("relationships" | "rels", Seq(Variable(v)), _) => add(v, "rels")
      case Func("nodes", Seq(Variable(v)), _)     => add(v, "nodes")
      case Func("properties" | "keys", Seq(Variable(v)), _) => add(v, "*")
      case MapProjection(sub, items) =>
        sub match {
          case Variable(v) => items.foreach {
            case Left(k)       => add(v, k)
            case Right((_, e)) => walk(e)
          }
          case other => walk(other); items.foreach {
            case Right((_, e)) => walk(e); case _ => () }
        }
      case Func("type", Seq(Variable(v)), _)      => add(v, "type")
      case Func("startnode", Seq(Variable(v)), _) => add(v, "src")
      case Func("endnode", Seq(Variable(v)), _)   => add(v, "dst")
      case Func(_, args, _)   => args.foreach(walk)
      case ListLit(xs)        => xs.foreach(walk)
      case MapLit(es)         => es.foreach(kv => walk(kv._2))
      case BinOp(_, l, r)     => walk(l); walk(r)
      case UnaryOp(_, o)      => walk(o)
      case IsNull(o, _)       => walk(o)
      case TypePredicate(o, _, _, _) => walk(o)
      case HasLabel(o, _)     =>
        o match { case Variable(v) => add(v, "labels"); add(v, "type"); case _ => () }; walk(o)
      case StringPred(_, l, r) => walk(l); walk(r)
      case CaseExpr(s, ws, d) =>
        s.foreach(walk); ws.foreach { case (a, b) => walk(a); walk(b) }; d.foreach(walk)
      case Index(Variable(v), Lit(k: String)) if !pathVars(v) =>
        add(v, k) // dynamic property access n['key'] with constant key
      case Index(Variable(v), Param(p)) if !pathVars(v) &&
          params.get(p).exists(_.isInstanceOf[String]) =>
        add(v, params(p).asInstanceOf[String])
      case Index(Variable(v), i) if !pathVars(v) &&
          !i.isInstanceOf[Lit] && !i.isInstanceOf[Param] =>
        // a truly per-row key (`n[keyExpr]`) needs every property column
        add(v, "*"); walk(i)
      case Index(l, i)        => walk(l); walk(i)
      case Slice(l, f, t)     => walk(l); f.foreach(walk); t.foreach(walk)
      case PatternExists(p, w, _, _) => walkPattern(p); w.foreach(walk)
      case PatternCount(p, w)     => walkPattern(p); w.foreach(walk)
      case SubqueryExpr(_, q) =>
        // correlated property reads inside the body must hydrate on the
        // outer side too (the sub-plan's key columns come from there)
        q.parts.foreach(_.clauses.foreach {
          case MatchClause(_, ps, w2, sh, _) =>
            ps.foreach(walkPattern); w2.foreach(walk)
            sh.foreach(x => walkPattern(x.pattern))
          case UnwindClause(e2, _) => walk(e2)
          case WithClause(_, its, ob, _, _, w2) =>
            its.foreach(i => walk(i.expr)); ob.foreach(x => walk(x.expr))
            w2.foreach(walk)
          case ReturnClause(_, its, ob, _, _) =>
            its.foreach(i => walk(i.expr)); ob.foreach(x => walk(x.expr))
          case _ => ()
        })
      case PatternComprehension(p, w, proj, ord, sk, li) =>
        walkPattern(p); w.foreach(walk); walk(proj)
        ord.foreach(s => walk(s.expr)); sk.foreach(walk); li.foreach(walk)
      case ListComprehension(_, l, w, p) => walk(l); w.foreach(walk); p.foreach(walk)
      case IterPredicate(_, _, l, pr) => walk(l); walk(pr)
      case Reduce(_, init, _, l, st)  => walk(init); walk(l); walk(st)
      case _ => ()
    }
    def walkPattern(p: PathPattern): Unit = {
      (p.first +: p.hops.map(_._2)).foreach { n =>
        n.props.foreach(kv => walk(kv._2)); n.where.foreach(walk)
      }
      p.hops.map(_._1).foreach { r =>
        r.props.foreach(kv => walk(kv._2)); r.where.foreach(walk)
        r.groupWhere.foreach(walk)
        r.headNode.foreach { hn =>
          hn.props.foreach(kv => walk(kv._2)); hn.where.foreach(walk) }
        r.branches.foreach(_.foreach(_.foreach { case (br, bn) =>
          br.props.foreach(kv => walk(kv._2)); br.where.foreach(walk)
          bn.props.foreach(kv => walk(kv._2)); bn.where.foreach(walk)
        }))
      }
    }
    def walkSetItems(items: Seq[SetItem]): Unit = items.foreach {
      case SetProp(_, _, v)         => walk(v)
      case SetPropsFromMap(_, m, _) => walk(m)
      case RemovePropExpr(s, _)     => walk(s)
      case _                        => ()
    }
    def walkForeach(f: ForeachClause): Unit = {
      walk(f.list)
      f.updates.foreach {
        case CreateClause(ps, _)    => ps.foreach(walkPattern)
        case MergeClause(p, om, oc) =>
          walkPattern(p); walkSetItems(om); walkSetItems(oc)
        case SetClause(items)       => walkSetItems(items)
        case nested: ForeachClause  => walkForeach(nested)
        case _                      => ()
      }
    }
    def walkClause(cl: Clause): Unit = cl match {
      case MatchClause(_, ps, w, sh, _) =>
        ps.foreach(walkPattern); w.foreach(walk)
        sh.foreach(s => walkPattern(s.pattern))
      case UnwindClause(e, _)    => walk(e)
      case WithClause(_, items, ob, sk, li, w) =>
        items.foreach(i => walk(i.expr)); ob.foreach(s => walk(s.expr))
        sk.foreach(walk); li.foreach(walk); w.foreach(walk)
      case ReturnClause(_, items, ob, sk, li) =>
        items.foreach(i => walk(i.expr)); ob.foreach(s => walk(s.expr))
        sk.foreach(walk); li.foreach(walk)
      case CreateClause(ps, _)   => ps.foreach(walkPattern)
      case MergeClause(p, om, oc) =>
        walkPattern(p); walkSetItems(om); walkSetItems(oc)
      case SetClause(items)      => walkSetItems(items)
      case RemoveClause(items)   => walkSetItems(items)
      case DeleteClause(_, _, es) => es.foreach(walk)
      case f: ForeachClause      => walkForeach(f)
      case c: CallClause => c.args.foreach(walk); c.where.foreach(walk)
      case c: CallSubquery => c.innerQ.parts.foreach(_.clauses.foreach(walkClause))
      case _ => () // schema commands carry no expressions
    }
    q.clauses.foreach(walkClause)
    // rename propagation: `WITH p AS person … person.name` reads through
    // the alias — the SOURCE variable must hydrate those properties at its
    // own bind (the projection pass-through re-prefixes the columns).
    // Conservative over-approximation (scopes collapse; extra hydration is
    // extra columns, never wrong values); fixpoint covers rename chains.
    val renames = scala.collection.mutable.ListBuffer.empty[(String, String)]
    def collectRenames(cl: Clause): Unit = cl match {
      case WithClause(_, items, _, _, _, _) => items.foreach {
        case ReturnItem(Variable(v), Some(a), _) if a != v => renames += ((v, a))
        // coalesce over entity variables keeps entity-hood (`coalesce(p,
        // sta) AS ab … ab.OtherId`): the alias's reads hydrate on EVERY
        // argument (whichever wins per row carries the property)
        case ReturnItem(Func("coalesce", as, _), Some(a), _) =>
          as.foreach { case Variable(v) => renames += ((v, a)); case _ => () }
        case _ => ()
      }
      case c: CallSubquery =>
        c.innerQ.parts.foreach(_.clauses.foreach(collectRenames))
      case _ => ()
    }
    q.clauses.foreach(collectRenames)
    if (renames.nonEmpty) {
      var changed = true
      while (changed) {
        changed = false
        renames.foreach { case (v, a) =>
          val extra = acc.getOrElse(a, Set.empty) -- acc.getOrElse(v, Set.empty)
          if (extra.nonEmpty) {
            acc(v) = acc.getOrElse(v, Set.empty) ++ extra; changed = true
          }
        }
      }
    }
    acc.toMap
  }

  /** Every variable name referenced by any expression in the query — the
    * conservative "is this variable ever read" oracle behind the pruning
    * rewrite (pattern variables themselves are NOT reads; property maps,
    * WHERE, projections, SET/DELETE targets and subqueries are). */
  private def referencedVars(q: SingleQuery): Set[String] = {
    val acc = scala.collection.mutable.Set.empty[String]
    def walk(e: Expr): Unit = acc ++= exprVars(e)
    def walkPattern(p: PathPattern): Unit = {
      (p.first +: p.hops.map(_._2)).foreach { n =>
        n.props.foreach(kv => walk(kv._2)); n.where.foreach(walk)
      }
      p.hops.map(_._1).foreach { r =>
        r.props.foreach(kv => walk(kv._2)); r.where.foreach(walk)
        r.groupWhere.foreach(walk)
        r.headNode.foreach { hn =>
          hn.props.foreach(kv => walk(kv._2)); hn.where.foreach(walk) }
        r.branches.foreach(_.foreach(_.foreach { case (br, bn) =>
          br.props.foreach(kv => walk(kv._2)); br.where.foreach(walk)
          bn.props.foreach(kv => walk(kv._2)); bn.where.foreach(walk)
        }))
      }
    }
    def walkSetItems(items: Seq[SetItem]): Unit = items.foreach {
      case SetProp(v, _, value)   => acc += v; walk(value)
      case SetPropsFromMap(v, m, _) => acc += v; walk(m)
      case SetLabelsItem(v, _)    => acc += v
      case RemoveProp(v, _)       => acc += v
      case RemovePropExpr(s, _)   => walk(s)
      case RemoveLabelsItem(v, _) => acc += v
    }
    def walkClause(cl: Clause): Unit = cl match {
      case MatchClause(_, ps, w, sh, _) =>
        ps.foreach(walkPattern); w.foreach(walk)
        sh.foreach(s => walkPattern(s.pattern))
      case UnwindClause(e, _) => walk(e)
      case WithClause(_, items, ob, sk, li, w) =>
        items.foreach(i => walk(i.expr)); ob.foreach(s => walk(s.expr))
        sk.foreach(walk); li.foreach(walk); w.foreach(walk)
      case ReturnClause(_, items, ob, sk, li) =>
        items.foreach(i => walk(i.expr)); ob.foreach(s => walk(s.expr))
        sk.foreach(walk); li.foreach(walk)
      case CreateClause(ps, _) =>
        // CREATE between bound endpoints reads the endpoint variables
        ps.foreach { p =>
          walkPattern(p)
          acc ++= (p.first +: p.hops.map(_._2)).flatMap(_.variable)
        }
      case MergeClause(p, om, oc) =>
        walkPattern(p)
        acc ++= (p.first +: p.hops.map(_._2)).flatMap(_.variable)
        walkSetItems(om); walkSetItems(oc)
      case SetClause(items)     => walkSetItems(items)
      case RemoveClause(items)  => walkSetItems(items)
      case DeleteClause(vs, _, es) => acc ++= vs; es.foreach(walk)
      case ForeachClause(_, list, updates) => walk(list); updates.foreach(walkClause)
      case c: CallClause => c.args.foreach(walk); c.where.foreach(walk)
      case c: CallSubquery => c.innerQ.parts.foreach(_.clauses.foreach(walkClause))
      case _ => () // schema commands carry no expressions
    }
    q.clauses.foreach(walkClause)
    acc.toSet
  }

  /** Variables a full-body subquery expression may correlate on: every
    * expression read plus every MATCH pattern variable name — in a
    * subquery expression a pattern variable matching an outer binding IS
    * that outer entity (openCypher scoping), so it must import. */
  private def subqueryScopeVars(q: Query): Set[String] =
    q.parts.flatMap { sq =>
      referencedVars(sq) ++ sq.clauses.flatMap {
        case MatchClause(_, ps, _, sh, _) =>
          ps.flatMap(patternVars) ++ sh.flatMap(x => patternVars(x.pattern))
        case _ => Nil
      }
    }.toSet

  /** Does this projection collapse row multiplicity? True for DISTINCT and
    * for aggregations whose every aggregate is multiplicity-insensitive
    * (min/max or DISTINCT-qualified) — the reference pruningVarExpander's
    * "distinctness horizon". */
  private def collapsesMultiplicity(distinct: Boolean, items: Seq[ReturnItem]): Boolean =
    distinct || {
      def itemOk(e: Expr): Boolean = e match {
        case Func(n, args, d) if aggFns(n) =>
          (n == "min" || n == "max" || d) && !args.exists(containsAgg)
        case e if !containsAgg(e) => true // grouping key
        case _ => false // count(*), sum, collect, avg… see every path
      }
      items.exists(i => containsAgg(i.expr)) && items.forall(i => itemOk(i.expr))
    }

  /** The reference's pruningVarExpander rewrite (cypher-planner
    * plans/rewriter/pruningVarExpander.scala): a var-length hop whose rel /
    * group variables are never read, feeding straight into a projection that
    * collapses multiplicity, only needs DISTINCT endpoints — planned as
    * frontier BFS (Bfs.pruningExpand, |V|-bounded) instead of trail
    * enumeration (path-count-bounded). Restricted to minHops <= 1, where
    * BFS distance + the self-cycle correction is exactly "exists a trail of
    * length in [min,max]"; deeper minimums keep trail enumeration
    * (Trail.trail). */
  private def pruneEligibleRels(q: SingleQuery): java.util.Set[RelPattern] = {
    val out = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[RelPattern, java.lang.Boolean]())
    lazy val refs = referencedVars(q)
    q.clauses.zip(q.clauses.drop(1)).foreach {
      case (m: MatchClause, next) =>
        val collapses = next match {
          case w: WithClause   => collapsesMultiplicity(w.distinct, w.items)
          case r: ReturnClause => collapsesMultiplicity(r.distinct, r.items)
          case _               => false
        }
        if (collapses && !m.optional && m.shortest.isEmpty && m.patterns.size == 1 &&
            m.patterns.head.name.isEmpty) {
          m.patterns.head.hops match {
            case Seq((rel, _)) if rel.varLength.exists(_._1 <= 1) &&
                !rel.variable.exists(refs) &&
                rel.qppVars.forall(g => !g._1.exists(refs) &&
                  !g._2.exists(refs) && !g._3.exists(refs)) =>
              out.add(rel)
            case _ => ()
          }
        }
      case _ => ()
    }
    out
  }

  // ---- MATCH ------------------------------------------------------------

  private def planMatch(ctx: Ctx, env: Env, mIn: MatchClause): Env = {
    // CIP-60: a selective (GQL-selector) path pattern must be the ONLY
    // path pattern in its graph pattern — combining it with any other
    // comma-joined pattern (plain, ALL, or another selector) is a
    // compile-time syntax error. Legacy shortestPath()/allShortestPaths()
    // function patterns are exempt (the reference allows mixing those).
    if (mIn.shortest.exists(!_.legacy) &&
        mIn.patterns.size + mIn.shortest.size > 1)
      throw new IllegalArgumentException(
        "Only one selective path pattern is allowed in a graph pattern " +
          "(CIP-60); put the other patterns in separate MATCH clauses")
    // reference error contract: one path variable cannot name two path
    // patterns of the same graph pattern (`MATCH p = (), p = ()`)
    locally {
      val names = mIn.patterns.flatMap(_.name) ++ mIn.shortest.flatMap(_.pathVar)
      val dup = names.diff(names.distinct)
      require(dup.isEmpty,
        s"path variable `${dup.headOption.getOrElse("")}` names more than " +
          "one path pattern in the same graph pattern")
    }
    if (mIn.optional) planOptionalMatch(ctx, env, mIn)
    else {
      val m = pushStepPredicates(env, mIn)
      var cur = env
      val relVarsBefore = relVars(env)
      // selection pushdown (the reference planner plans Selection at the
      // earliest point its dependencies exist): WHERE conjuncts apply as
      // soon as all their variables are bound — in particular BEFORE any
      // later expand / var-length hop, so traversals start from the
      // filtered anchor set, not the whole label
      val pending = new PendingWhere(m.where.map(splitConjuncts).getOrElse(Nil))
      m.patterns.foreach { p =>
        cur = planPath(ctx, cur, p, pending)
        cur = flushReadyWhere(ctx, cur, pending)
      }
      // cross-iteration QPP group WHEREs surfaced by expandComposite join
      // the clause's pending conjuncts (they apply once their non-local
      // singletons bind — possibly by a LATER pattern element)
      if (ctx.deferredGroupWhere.nonEmpty) {
        pending.conjs = pending.conjs ++ ctx.deferredGroupWhere.toList
        ctx.deferredGroupWhere.clear()
        cur = flushReadyWhere(ctx, cur, pending)
      }
      m.shortest.foreach { s0 =>
        val s = lowerSelectorWhere(ctx, cur.has, s0, pending)
        cur = planShortestOrFallback(ctx, cur, s, pending)
      }
      // GQL match modes: REPEATABLE ELEMENTS waives relationship
      // uniqueness for this MATCH; DIFFERENT NODES adds pairwise node
      // distinctness over the clause's node variables
      if (mIn.mode != "repeatable") {
        cur = applyUniqueness(ctx, cur, relVarsBefore)
        // a rel variable REPEATED across rel patterns of THIS clause can
        // never match under default uniqueness: the two occurrences must
        // bind the same rel (same variable) AND different rels (reference
        // AddUniquenessPredicates emits a pairwise <> per occurrence pair)
        // — the contradiction makes the clause empty, not an error
        val rels = m.patterns.flatMap(_.hops.map(_._1))
        // `__`-prefixed names are planner-generated (pushStepPredicates
        // step names) — never user repetitions
        val topVars = rels.flatMap(r =>
          if (r.branches.isEmpty)
            r.variable.toSeq.filterNot(_.startsWith("__"))
          else Seq.empty)
        // within ONE alternation branch chain a duplicate is the same
        // contradiction; ACROSS alternative branches sharing a name is fine
        val branchDup = rels.flatMap(_.branches.toSeq.flatten).exists {
          chain =>
            val vs = chain.flatMap(_._1.variable)
            vs.diff(vs.distinct).nonEmpty
        }
        if (topVars.diff(topVars.distinct).nonEmpty || branchDup)
          cur = cur.copy(df = cur.df.map(_.filter(lit(false))))
      }
      if (mIn.mode == "different") {
        // distinctness over every node binding of THIS clause: named new
        // bindings, anonymous pattern nodes (bindNode/expandHop name them
        // __n_*), and pre-bound node variables the pattern re-uses
        val before = env.binds.keySet
        val patternNames: Set[String] = mIn.patterns.flatMap(p =>
          p.first.variable.toSeq ++ p.hops.flatMap(_._2.variable)).toSet
        val nodeVars = cur.binds.collect {
          case (v, NodeVar)
              if (!before(v) &&
                   (!v.startsWith("__") || v.startsWith("__n_"))) ||
                 (before(v) && patternNames(v)) => v
        }.toSeq.sorted
        nodeVars.combinations(2).foreach { case Seq(a, b) =>
          cur = cur.copy(df = cur.df.map(_.filter(col(a) =!= col(b))))
        }
      }
      val rest = pending.conjs
      pending.conjs = Nil
      rest.foreach { c => cur = applyWhere(ctx, cur, c) }
      cur
    }
  }

  /** Conjuncts of a MATCH's WHERE awaiting their earliest application
    * point. Row-wise predicates and pattern predicates both commute with
    * the joins/expands that later pattern elements add, so applying a
    * conjunct the moment its last variable binds is semantics-preserving
    * (same split-conjunct three-valued logic as applyWhere). */
  private final class PendingWhere(var conjs: List[Expr])

  /** Dynamic inline property maps: `(n {k: expr})` with a non-literal,
    * non-parameter value is sugar for `(n) WHERE n.k = expr` (reference
    * front-end normalizeMatchPredicates — MatchPredicateNormalizerChain):
    * scan-time seeks keep literal/parameter values (pushdown-friendly);
    * anything dynamic — outer variables, function calls, subquery
    * expressions — lifts into the clause WHERE, which evaluates with full
    * row scope. Fixed-length elements only: a var-length/quantified rel's
    * inline map constrains EVERY traversed rel and stays a pre-filter.
    * Runs BEFORE neededProps so lifted `v.k` reads hydrate normally. */
  private def liftDynamicPatternProps(q: SingleQuery): SingleQuery = {
    var seq = 0
    def isConst(e: Expr): Boolean = e match {
      case _: Lit | _: Param => true
      case _                 => false
    }
    def rewriteMatch(m: MatchClause): MatchClause = {
      val lifted = List.newBuilder[Expr]
      def fresh(pfx: String): String = { seq += 1; s"__${pfx}_pp$seq" }
      def node(np: NodePattern): NodePattern = {
        val (const, dyn) = np.props.partition(kv => isConst(kv._2))
        if (dyn.isEmpty) np
        else {
          val v = np.variable.getOrElse(fresh("n"))
          dyn.foreach { case (k, e) =>
            lifted += BinOp("=", Prop(Variable(v), k), e) }
          np.copy(variable = Some(v), props = const)
        }
      }
      def rel(r: RelPattern): RelPattern =
        if (r.varLength.isDefined || r.branches.isDefined ||
            r.props.forall(kv => isConst(kv._2))) r
        else {
          val (const, dyn) = r.props.partition(kv => isConst(kv._2))
          val v = r.variable.getOrElse(fresh("r"))
          dyn.foreach { case (k, e) =>
            lifted += BinOp("=", Prop(Variable(v), k), e) }
          r.copy(variable = Some(v), props = const)
        }
      def path(p: PathPattern): PathPattern =
        p.copy(first = node(p.first),
          hops = p.hops.map { case (r, nd) => (rel(r), node(nd)) })
      val ps2a = m.patterns.map(path)
      // inline node WHEREs referencing elements bound LATER in the graph
      // pattern (`MATCH (a WHERE b.prop > 1)-->(b)`, reference
      // NodePatternPredicates "reference to later elements") defer to the
      // clause WHERE, which applies the moment its last variable binds
      val firstPos: Map[String, Int] = {
        var i = 0
        val b = Map.newBuilder[String, Int]
        val seen = scala.collection.mutable.Set.empty[String]
        def at(v: Option[String]): Unit = {
          v.filterNot(seen).foreach { x => seen += x; b += (x -> i) }
          i += 1
        }
        ps2a.foreach { p =>
          at(p.first.variable)
          p.hops.foreach { case (r, nd) => at(r.variable); at(nd.variable) }
        }
        b.result()
      }
      var pos = -1
      def liftLateWhere(np: NodePattern, selfPos: Int): NodePattern =
        np.where match {
          case Some(w) if exprVars(w).exists(v =>
              firstPos.get(v).exists(_ > selfPos)) =>
            lifted += w
            np.copy(where = None)
          case _ => np
        }
      val ps2 = ps2a.map { p =>
        pos += 1
        val f2 = liftLateWhere(p.first, pos)
        val hops2 = p.hops.map { case (r, nd) =>
          pos += 1 // rel slot
          pos += 1
          (r, if (r.varLength.isEmpty && r.qppVars.isEmpty &&
                  r.branches.isEmpty) liftLateWhere(nd, pos) else nd)
        }
        p.copy(first = f2, hops = hops2)
      }
      val conjs = lifted.result()
      if (conjs.isEmpty) m
      else m.copy(patterns = ps2,
        where = Some((m.where.toList ++ conjs).reduce(BinOp("AND", _, _))))
    }
    def rewriteClause(c: Clause): Clause = c match {
      case m: MatchClause   => rewriteMatch(m)
      case cs: CallSubquery => cs.copy(innerQ = Query(
        cs.innerQ.parts.map(p => SingleQuery(p.clauses.map(rewriteClause))),
        cs.innerQ.unionAll))
      case other => other
    }
    SingleQuery(q.clauses.map(rewriteClause))
  }

  private def splitConjuncts(e: Expr): List[Expr] = e match {
    case BinOp("AND", l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other              => List(other)
  }

  /** Conservative variable rename inside a scalar predicate (used by the
    * all()/none() step-predicate pushdown). Returns None when the
    * expression holds a construct the rename doesn't model (lambdas that
    * could shadow, pattern subqueries) — the caller then leaves the
    * conjunct as a post-filter, which is always correct. */
  private def renameVarOpt(e: Expr, from: String, to: String): Option[Expr] = {
    def r(x: Expr): Option[Expr] = x match {
      case Variable(`from`)  => Some(Variable(to))
      case v: Variable       => Some(v)
      case l: Lit            => Some(l)
      case p: Param          => Some(p)
      case Prop(s, k)        => r(s).map(Prop(_, k))
      case BinOp(op, a, b)   => for (x1 <- r(a); x2 <- r(b)) yield BinOp(op, x1, x2)
      case UnaryOp(op, o)    => r(o).map(UnaryOp(op, _))
      case IsNull(o, n)      => r(o).map(IsNull(_, n))
      case StringPred(op, a, b) =>
        for (x1 <- r(a); x2 <- r(b)) yield StringPred(op, x1, x2)
      case TypePredicate(o, t, nn, neg) => r(o).map(TypePredicate(_, t, nn, neg))
      case HasLabel(s, d)    => r(s).map(HasLabel(_, d))
      case Func(n, args, d)  =>
        val rs = args.map(r)
        if (rs.forall(_.isDefined)) Some(Func(n, rs.map(_.get), d)) else None
      case ListLit(xs)       =>
        val rs = xs.map(r)
        if (rs.forall(_.isDefined)) Some(ListLit(rs.map(_.get))) else None
      case Index(l, i)       => for (x1 <- r(l); x2 <- r(i)) yield Index(x1, x2)
      case Slice(l, f, t)    =>
        for {
          x1 <- r(l)
          ff <- f.fold[Option[Option[Expr]]](Some(None))(y => r(y).map(Some(_)))
          tt <- t.fold[Option[Option[Expr]]](Some(None))(y => r(y).map(Some(_)))
        } yield Slice(x1, ff, tt)
      case CaseExpr(s, ws, d) =>
        val s2 = s.map(r); val d2 = d.map(r)
        val ws2 = ws.map { case (a, b) => (r(a), r(b)) }
        if (s2.exists(_.isEmpty) || d2.exists(_.isEmpty) ||
            ws2.exists(t => t._1.isEmpty || t._2.isEmpty)) None
        else Some(CaseExpr(s2.map(_.get), ws2.map(t => (t._1.get, t._2.get)),
          d2.map(_.get)))
      case _ => None
    }
    r(e)
  }

  /** `WHERE all(x IN relationships(p) WHERE pred)` / `none(...)` over a
    * var-length path is the classic spelling of a per-step relationship
    * predicate (the reference rewrites it into VarLengthExpand —
    * pushdownPropertyReads / VarLengthRewriter): move `pred` into every
    * var-length hop of p's pattern as an inline WHERE and drop the
    * conjunct, so the traversal walks a pre-filtered edge set instead of
    * enumerating every path and post-filtering. Fires only when every hop
    * of the pattern is var-length, the predicate sees only the iteration
    * variable, and the path variable is bound by THIS clause; anything
    * else keeps the (always-correct) post-filter. */
  private def pushStepPredicates(env: Env, m: MatchClause): MatchClause = {
    if (m.where.isEmpty) return m
    var patterns = m.patterns.toVector
    val kept = List.newBuilder[Expr]
    splitConjuncts(m.where.get).foreach {
      case ip @ IterPredicate(kind @ ("all" | "none"), v,
          Func("relationships" | "rels", Seq(Variable(pv)), _), pred)
          if !env.has(pv) =>
        val idx = patterns.indexWhere(_.name.contains(pv))
        val eligible = idx >= 0 && {
          val p = patterns(idx)
          p.hops.nonEmpty && p.hops.forall(_._1.varLength.isDefined) &&
            exprVars(pred).subsetOf(Set(v))
        }
        val base = if (kind == "none") UnaryOp("NOT", pred) else pred
        val pushed: Option[Vector[PathPattern]] = if (!eligible) None else {
          val p = patterns(idx)
          val hops2 = p.hops.toVector.zipWithIndex.map { case ((rl, nd), hi) =>
            // anonymous rels get a `__`-prefixed PER-HOP name: bound but
            // invisible to RETURN * (same convention as ctx.fresh); the
            // name must be unique per hop — a repeated rel variable within
            // one clause is a uniqueness contradiction (empty match)
            val rv = rl.variable.getOrElse(s"__step_${v}_$hi")
            renameVarOpt(base, v, rv).map { rp =>
              (rl.copy(variable = Some(rv),
                where = Some(rl.where.fold(rp)(w => BinOp("AND", w, rp)))), nd)
            }
          }
          if (hops2.forall(_.isDefined))
            Some(patterns.updated(idx, p.copy(hops = hops2.map(_.get))))
          else None
        }
        pushed match {
          case Some(ps) => patterns = ps
          case None     => kept += ip
        }
      case c => kept += c
    }
    val where2 = kept.result() match {
      case Nil => None
      case cs  => Some(cs.reduce(BinOp("AND", _, _)))
    }
    m.copy(patterns = patterns.toSeq, where = where2)
  }

  /** Lower a selector's parenthesized path-pattern WHERE (and pushable
    * MATCH-level conjuncts) INTO the search, reference-style — predicates
    * apply BEFORE the selector, so a longer satisfying path is found when
    * the shortest fails the predicate (reference plans them into the NFA's
    * expansions/states; post-filtering would wrongly drop the pair):
    *  - `all(x IN relationships(p) WHERE …)` / `none(…)` — also spelled
    *    over a quantified hop's group rel variable — become per-hop inline
    *    rel WHEREs (edge-set prefilters, stepFilteredRels);
    *  - single-variable conjuncts on an UNBOUND pattern node, including
    *    pattern predicates like `(v)-->(:N)`, fold into that node's inline
    *    WHERE (a per-state boundary set);
    *  - anything else stays a post-selection filter via `pending` — the
    *    documented divergence. */
  private def lowerSelectorWhere(ctx: Ctx, bound: String => Boolean,
      s0: ShortestPart, pending: PendingWhere): ShortestPart = {
    var s = s0.copy(where = None)
    val pv = s0.pathVar
    def pushRel(c: Expr): Boolean = c match {
      case IterPredicate(kind @ ("all" | "none"), x, src, pr)
          if exprVars(pr).subsetOf(Set(x)) =>
        val idxs: Set[Int] = src match {
          case Func("relationships" | "rels", Seq(Variable(v)), _)
              if pv.contains(v) && s.pattern.hops.nonEmpty &&
                s.pattern.hops.forall(_._1.branches.isEmpty) =>
            s.pattern.hops.indices.toSet
          case Variable(v) =>
            val i = s.pattern.hops.indexWhere { case (r, _) =>
              r.branches.isEmpty &&
                ((r.variable.contains(v) && r.varLength.isDefined) ||
                  r.qppVars.exists(_._2.contains(v)))
            }
            if (i >= 0) Set(i) else Set.empty
          case _ => Set.empty
        }
        if (idxs.isEmpty) false
        else {
          val base = if (kind == "all") pr else UnaryOp("NOT", pr)
          var ok = true
          val hops2 = s.pattern.hops.zipWithIndex.map { case ((r, tn), i) =>
            if (!idxs(i)) (r, tn)
            else {
              val rv = r.variable.getOrElse(ctx.fresh("spr"))
              (if (x == rv) Some(base) else renameVarOpt(base, x, rv)) match {
                case Some(rp) => (r.copy(variable = Some(rv),
                  where = Some(r.where.fold(rp)(w0 => BinOp("AND", w0, rp)))), tn)
                case None => ok = false; (r, tn)
              }
            }
          }
          if (ok) { s = s.copy(pattern = s.pattern.copy(hops = hops2)); true }
          else false
        }
      case _ => false
    }
    def pushNode(c: Expr): Boolean = {
      val vs = exprVars(c)
      if (vs.size != 1 || bound(vs.head)) false
      else {
        val v = vs.head
        def fold(n: NodePattern): NodePattern =
          n.copy(where = Some(n.where.fold(c)(w0 => BinOp("AND", w0, c))))
        if (s.pattern.first.variable.contains(v)) {
          s = s.copy(pattern = s.pattern.copy(first = fold(s.pattern.first)))
          true
        } else s.pattern.hops.indexWhere(_._2.variable.contains(v)) match {
          case -1 => false
          case i =>
            val (r, tn) = s.pattern.hops(i)
            s = s.copy(pattern = s.pattern.copy(
              hops = s.pattern.hops.updated(i, (r, fold(tn)))))
            true
        }
      }
    }
    s0.where.map(splitConjuncts).getOrElse(Nil).foreach { c =>
      if (!pushRel(c) && !pushNode(c)) pending.conjs = pending.conjs :+ c
    }
    // The MATCH-level (un-parenthesized) WHERE in `pending` lowers into the
    // search ONLY for the legacy shortestPath()/allShortestPaths() form,
    // whose solvable predicates apply DURING the search (the reference
    // falls back to exhaustive enumeration when the shortest path fails
    // them — ShortestPathAcceptance). GQL selectors apply graph-pattern
    // predicates AFTER the selector picks its paths ("Graph pattern
    // predicates are applied after path selector"), while the parenthesized
    // path-pattern WHERE (s0.where) filters candidates BEFORE selection.
    if (s0.legacy) pending.conjs = pending.conjs.filterNot(pushRel)
    s
  }

  private def flushReadyWhere(ctx: Ctx, env: Env, pending: PendingWhere): Env = {
    if (pending.conjs.isEmpty || env.df.isEmpty) env
    else {
      val (ready, rest) = pending.conjs.partition(c => exprVars(c).forall(env.has))
      pending.conjs = rest
      ready.foldLeft(env)((e, c) => applyWhere(ctx, e, c))
    }
  }

  /** shortestPath((a)-[:T*..d]->(b)): BFS with target early-exit when both
    * endpoints are bound (reference FindShortestPaths :2178); unreached
    * pairs drop, like a failed MATCH. The path variable binds `v$length`. */
  /** Bind a selector pattern's UNBOUND leg relationship variables from the
    * matched path's rel array (reference: group variables of quantified
    * legs bind per path). A leg binds when its offset is determined: all
    * preceding legs fixed-length, and — for a variable-length leg — all
    * following legs fixed too (its span is then the remainder). */
  private def bindSelectorLegRels(ctx: Ctx, envIn: Env, out: Env, pv: String,
      hops: Seq[(RelPattern, NodePattern)]): Env = {
    if (!out.df.exists(_.columns.contains(s"$pv$$rels"))) return out
    val fixedLens: Seq[Option[Int]] = hops.map { case (r, _) =>
      if (r.branches.isDefined) None
      else if (r.varLength.isEmpty) Some(1)
      else r.varLength.flatMap { case (mn, mx) => mx.filter(_ == mn) }
    }
    var env = out
    hops.zipWithIndex.foreach { case ((r, _), i) =>
      r.variable.filterNot(v => envIn.has(v) || env.df.exists(
          _.columns.contains(v))).foreach { rv =>
        val pre = fixedLens.take(i)
        val post = fixedLens.drop(i + 1)
        val rels = col(s"$pv$$rels")
        if (pre.forall(_.isDefined) &&
            (fixedLens(i).isDefined || post.forall(_.isDefined))) {
          val preN = pre.flatten.sum
          val (expr2, kind) = fixedLens(i) match {
            case Some(1) => (element_at(rels, preN + 1), RelVar: Binding)
            case Some(l) => (slice(rels, lit(preN + 1), lit(l)),
              RelListVar: Binding)
            case None =>
              val postN = post.flatten.sum
              (slice(rels, lit(preN + 1),
                greatest(size(rels) - preN - postN, lit(0))),
                RelListVar: Binding)
          }
          env = env.copy(df = env.df.map(_.withColumn(rv, expr2)),
            binds = env.binds + (rv -> kind))
        }
      }
    }
    env
  }

  /** Legacy shortestPath()/allShortestPaths() with a MATCH WHERE that
    * constrains the PATH (reference fallback semantics — FindShortestPaths
    * withFallback, ShortestPathAcceptance "among paths that fulfill a
    * predicate"): the result is the shortest path that SATISFIES the
    * predicate, so when the globally shortest path fails it, longer
    * candidates must be considered. Plans the var-length pattern
    * exhaustively through Trail (rel-uniqueness trails, capped at the
    * pattern's own bound), filters by the predicates, then keeps the
    * per-endpoint-pair minimum — every tie for allShortestPaths, one
    * deterministic (smallest rel-id sequence) path otherwise. Exponential
    * in the cap; only reached when a path predicate makes the BFS fast
    * path unsound, exactly like the reference's fallback plan. */
  private def planShortestFallback(ctx: Ctx, envIn: Env, s: ShortestPart,
      preds: List[Expr]): Env = {
    val pv = s.pathVar.getOrElse(ctx.fresh("p"))
    val first = if (s.pattern.first.variable.isDefined) s.pattern.first
      else s.pattern.first.copy(variable = Some(ctx.fresh("n")))
    val hops = s.pattern.hops.map { case (r, n) =>
      (r, if (n.variable.isDefined) n
          else n.copy(variable = Some(ctx.fresh("n"))))
    }
    var env = planNamedPath(ctx, envIn, pv, PathPattern(first, hops))
    preds.foreach { c => env = applyWhere(ctx, env, c) }
    val fromVar = first.variable.get
    val toVar = hops.last._2.variable.get
    val df0 = env.df.get
    // per OUTER ROW per endpoint pair: partition by every outer column
    // (row identity) plus the endpoints — duplicates of an outer row each
    // keep their own copy of the winning path
    val partCols = (envIn.df.map(_.columns.toSeq).getOrElse(Nil)
      .filter(df0.columns.contains) ++ Seq(fromVar, toVar)).distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*)
    val df =
      if (s.all)
        df0.withColumn("__minlen", min(col(s"$pv$$length")).over(w))
          .filter(col(s"$pv$$length") === col("__minlen")).drop("__minlen")
      else
        df0.withColumn("__minp",
            min(struct(col(s"$pv$$length"), col(s"$pv$$rels"))).over(w))
          .filter(struct(col(s"$pv$$length"), col(s"$pv$$rels")) ===
            col("__minp"))
          .drop("__minp")
    env.copy(df = Some(df))
  }

  /** Route a legacy shortestPath whose pending WHERE conjuncts read the
    * path variable through the exhaustive fallback; everything else takes
    * the BFS fast path (predicates then apply AFTER, which is correct
    * exactly when none of them references the path). */
  private def planShortestOrFallback(ctx: Ctx, envIn: Env, s: ShortestPart,
      pending: PendingWhere): Env = {
    val pathPreds =
      if (s.legacy && s.pattern.hops.size == 1 &&
          s.pattern.hops.head._1.varLength.isDefined &&
          s.pattern.hops.head._1.branches.isEmpty) {
        // predicates reading the path variable OR its leg rel-list
        // variable (`ALL(r IN rs WHERE …)`) constrain path CANDIDACY
        val sel = s.pathVar.toSet ++
          s.pattern.hops.head._1.variable.filterNot(envIn.has)
        if (sel.isEmpty) Nil
        else pending.conjs.filter(c => (exprVars(c) & sel).nonEmpty)
      } else Nil
    if (pathPreds.nonEmpty) {
      pending.conjs = pending.conjs.filterNot(pathPreds.contains)
      planShortestFallback(ctx, envIn, s, pathPreds)
    } else planShortest(ctx, envIn, s)
  }

  private def planShortest(ctx: Ctx, envIn: Env, sIn: ShortestPart): Env = {
    // name the path when an unbound leg rel variable must bind from it
    val legRelVars = sIn.pattern.hops.map(_._1)
      .flatMap(_.variable).filterNot(envIn.has)
    val s =
      if (legRelVars.isEmpty || sIn.pathVar.isDefined) sIn
      else sIn.copy(pathVar = Some(ctx.fresh("p")))
    val out = planShortest0(ctx, envIn, s)
    if (legRelVars.isEmpty) out
    else bindSelectorLegRels(ctx, envIn, out, s.pathVar.get, s.pattern.hops)
  }

  private def planShortest0(ctx: Ctx, envIn: Env, s: ShortestPart): Env = {
    if (s.pattern.hops.isEmpty) {
      // node-only selector pattern (`MATCH ANY SHORTEST (a:A)`): every
      // matching node is its own zero-length path — selectors are no-ops
      // (one path per endpoint pair, here one pair per node)
      val np = s.pattern.first
      val e1 = bindEndpoint(ctx, envIn, np)
      val env = if (np.variable.exists(e1.has)) e1
        else bindEndpoint(ctx, e1, np, force = true)
      val v = np.variable.filter(env.has).getOrElse(
        throw new IllegalArgumentException(
          "a node-only selector pattern needs a node variable"))
      return s.pathVar.fold(env) { pv =>
        env.copy(df = env.df.map(_
          .withColumn(s"$pv$$nodes", array(col(v)))
          .withColumn(s"$pv$$rels", array().cast("array<long>"))
          .withColumn(s"$pv$$length", lit(0))),
          binds = env.binds + (pv -> PathVar))
      }
    }
    if (s.k.isDefined) return planShortestK(ctx, envIn, s)
    // ALL SHORTEST over a composite pattern (QPP alternation branches,
    // multi-leg chains, constrained interior nodes) ≡ SHORTEST 1 GROUPS —
    // every tie of the single smallest length — and the GROUPS segment
    // machinery is what honors interior boundaries; the plain-BFS path
    // below would silently drop them
    if (s.all && (s.pattern.hops.size > 1 ||
        s.pattern.hops.exists(_._1.branches.isDefined)))
      return planShortestK(ctx, envIn, s.copy(k = Some(1), groups = true))
    val p = namedStart(ctx, s.pattern)
    require(p.hops.size == 1, "shortestPath takes a single relationship pattern")
    val (rel, toNode) = p.hops.head
    // per-step rel WHERE (Cypher 5 inline `[r*.. WHERE r.x > 1]`) — every
    // traversed rel must satisfy it → the search walks a pre-filtered
    // edge set (stepFilteredRels)
    val stepDf = stepFilteredRels(ctx, rel)
    val dirConv = direction(rel)
    // the inline property map and type expression filter every step too,
    // as in the enumerating forms (expandHop)
    val stepPred = stepPredicate(ctx, rel)
    val idEdges = ctx.g.orientTyped(rel.types, dirConv, stepPred, stepDf)
    // endpoints need not be pre-bound (the reference plans both sides then
    // FindShortestPaths, LogicalPlan.scala:2178): an inline-filtered start
    // like `shortestPath((a:L {k:v})-[*..d]-(b))` binds here via its own
    // scan; a propertied target binds too so the per-pair early-exit BFS
    // applies; a fully unconstrained start seeds from AllNodesScan
    val env = {
      val e1 = bindEndpoint(ctx, envIn, p.first)
      val e2 = if (p.first.variable.exists(e1.has)) e1
        else bindEndpoint(ctx, e1, p.first, force = true)
      if (toNode.props.nonEmpty) bindEndpoint(ctx, e2, toNode) else e2
    }
    val fromVar = p.first.variable.filter(env.has).getOrElse(
      throw new IllegalArgumentException("shortestPath start node must be bound"))
    // a FIXED single hop (`ANY SHORTEST (a)-->(b)`) matches exactly one
    // relationship — only a var-length rel searches deeper
    val maxDepth = rel.varLength.map(_._2.getOrElse(15)).getOrElse(1)
    // untyped searches iterate the warm DISTINCT pair set (deduped and
    // checkpointed once per snapshot); typed ones filter the topology and
    // let the BFS dedupe the filtered result itself
    val (edges, edgesDeduped) =
      if (rel.types.isEmpty && stepPred.isEmpty && stepDf.isEmpty)
        (ctx.g.orientedPairs(dirConv), true)
      else (idEdges.select("src", "dst"), false)
    val pv = s.pathVar.getOrElse(ctx.fresh("p"))
    val minHops = rel.varLength.map(_._1).getOrElse(1)
    // endpoint inline WHERE: bound sides semi-join their boundary set
    // up-front (endpoint predicates select the endpoints; the search runs
    // between the survivors); an unbound target's WHERE filters the
    // reached set per pair below
    // endpoint constraints on a PRE-BOUND side (labels, label expressions,
    // property maps, inline WHERE) semi-join their boundary set — a bound
    // `(start:L)` must still filter on :L (an unbound side already got
    // them on its scan, where only an inline WHERE needs the boundary)
    def epFilter(d0: DataFrame, np: Ast.NodePattern, vcol: String): DataFrame = {
      val preBound = np.variable.exists(envIn.has)
      val b = if (preBound || np.where.isDefined) boundarySet(ctx, np) else None
      b.fold(d0)(bs =>
        d0.join(bs.withColumnRenamed("id", vcol), Seq(vcol), "left_semi"))
    }
    val df = {
      var d = epFilter(env.df.get, p.first, fromVar)
      toNode.variable.filter(env.has).foreach { tv =>
        d = epFilter(d, toNode, tv)
      }
      d
    }
    def applyTargetWhere(d: DataFrame, tv: String): DataFrame =
      if (toNode.where.isEmpty || toNode.variable.exists(env.has)) d
      else boundarySet(ctx, toNode).fold(d)(b =>
        d.join(b.withColumnRenamed("id", tv), Seq(tv), "left_semi"))
    val pvNeeded = ctx.needed.getOrElse(pv, Set.empty)
    val needPath = pvNeeded.contains("rels") || pvNeeded.contains("nodes") ||
      rel.variable.exists(v => !envIn.has(v)) // leg rel var binds from the path
    if (s.all) {
      // allShortestPaths: every minimal-hop tie, path always bound
      // bound far node: BFS output needs a fresh name, else the equality
      // filter below would reference an ambiguous column
      val toVar = if (toNode.variable.exists(env.has)) ctx.fresh("n")
        else toNode.variable.getOrElse(ctx.fresh("n"))
      val sp = graft.ops.Bfs.allShortestPaths(idEdges,
        df.select(col(fromVar).as("source")).distinct(), maxDepth)
        .filter(col("dist") >= minHops)
        .select(col("source"), col("node").as(toVar),
          col("dist").as(s"$pv$$length"), col("path").as(s"$pv$$rels"),
          col("nodes").as(s"$pv$$nodes"))
      var joined = df.join(sp, col(fromVar) === col("source")).drop("source")
      toNode.variable.filter(env.has) match {
        case Some(tv) =>
          return Env(Some(joined.filter(col(tv) === col(toVar)).drop(toVar)),
            env.binds + (pv -> PathVar))
        case _ =>
          if (toNode.labels.nonEmpty || toNode.labelExpr.nonEmpty || toNode.props.nonEmpty ||
              ctx.needed.getOrElse(toVar, Set.empty).nonEmpty) {
            val scan = hydrated(ctx, nodeScan(ctx, toNode), toVar, ctx.g.nodes.columns.toSet)
            joined = joined.join(scan, Seq(toVar))
          }
          return Env(Some(applyTargetWhere(joined, toVar)),
            env.binds + (pv -> PathVar) + (toVar -> NodeVar))
      }
    }
    if (needPath) {
      // PathPropagatingBFS: unit-weight frontier relaxation carries the
      // rel-id path; dist == hop count
      val wEdges = idEdges.withColumn("weight", lit(1.0))
      val toVar = if (toNode.variable.exists(env.has)) ctx.fresh("n")
        else toNode.variable.getOrElse(ctx.fresh("n"))
      val sp = graft.ops.WeightedPaths.shortestPaths(wEdges,
        df.select(col(fromVar).as("source")).distinct(), maxIter = maxDepth,
        // an EXPLICIT user bound `[*..d]` prunes (longer paths are simply
        // not matches); the DEFAULT 15 cap on an unbounded `[*]` must
        // still error on non-convergence rather than silently drop rows
        capIsPrune = rel.varLength.exists(_._2.isDefined))
        .filter(col("dist") >= minHops)
        .select(col("source"), col("node").as(toVar),
          col("dist").cast("int").as(s"$pv$$length"), col("path").as(s"$pv$$rels"),
          col("nodes").as(s"$pv$$nodes"))
      var joined = df.join(sp, col(fromVar) === col("source")).drop("source")
      toNode.variable.filter(env.has) match {
        case Some(tv) => // bound far node: constrain
          return Env(Some(joined.filter(col(tv) === col(toVar)).drop(toVar)),
            env.binds + (pv -> PathVar))
        case _ =>
          if (toNode.labels.nonEmpty || toNode.labelExpr.nonEmpty || toNode.props.nonEmpty ||
              ctx.needed.getOrElse(toVar, Set.empty).nonEmpty) {
            val scan = hydrated(ctx, nodeScan(ctx, toNode), toVar, ctx.g.nodes.columns.toSet)
            joined = joined.join(scan, Seq(toVar))
          }
          return Env(Some(applyTargetWhere(joined, toVar)),
            env.binds + (pv -> PathVar) + (toVar -> NodeVar))
      }
    }
    toNode.variable.filter(env.has) match {
      case Some(toVar) => // both bound: per-pair lengths with early exit
        val pairs = df.select(col(fromVar).as("source"), col(toVar).as("target"))
          .distinct()
        val lens = graft.ops.Bfs.shortestPathLengths(edges, pairs, maxDepth,
          edgesDeduped)
          .filter(col("dist") >= minHops)
          .select(col("source"), col("target"), col("dist").as(s"$pv$$length"))
        val joined = df.join(lens,
          col(fromVar) === col("source") && col(toVar) === col("target"))
          .drop("source", "target")
        Env(Some(joined), env.binds + (pv -> PathVar))
      case _ => // far node unbound: all reachable within maxDepth
        val toVar = toNode.variable.getOrElse(ctx.fresh("n"))
        val dists = graft.ops.Bfs.distances(edges,
          df.select(col(fromVar).as("source")).distinct(), maxDepth,
          edgesDeduped)
          .filter(col("dist") >= minHops)
          .select(col("source"), col("node").as(toVar), col("dist").as(s"$pv$$length"))
        var joined = df.join(dists, col(fromVar) === col("source")).drop("source")
        if (toNode.labels.nonEmpty || toNode.labelExpr.nonEmpty || toNode.props.nonEmpty ||
            ctx.needed.getOrElse(toVar, Set.empty).nonEmpty) {
          val scan = hydrated(ctx, nodeScan(ctx, toNode), toVar, ctx.g.nodes.columns.toSet)
          joined = joined.join(scan, Seq(toVar))
        }
        Env(Some(applyTargetWhere(joined, toVar)),
          env.binds + (pv -> PathVar) + (toVar -> NodeVar))
    }
  }

  /** `SHORTEST k <pattern>` — compiles the (possibly multi-leg) pattern to
    * Trail.shortestKSegments (linear-NFA product-graph search). Interior
    * nodes may carry labels, label alternations and property maps — they
    * compile to per-state boundary node sets (reference NFA.scala:157) —
    * but cannot reuse bound variables (no join points mid-NFA); endpoints
    * behave like shortestPath endpoints. Binds pv$length and pv$rels per
    * returned path (up to k per pair). */
  private def planShortestK(ctx: Ctx, envIn: Env, s: ShortestPart): Env = {
    val p = namedStart(ctx, s.pattern)
    val kk = s.k.get
    require(p.hops.nonEmpty, "SHORTEST k needs a relationship pattern")
    val env = {
      val e1 = bindEndpoint(ctx, envIn, p.first)
      val e2 = if (p.first.variable.exists(e1.has)) e1
        else bindEndpoint(ctx, e1, p.first, force = true)
      val t = p.hops.last._2
      if (t.props.nonEmpty) bindEndpoint(ctx, e2, t) else e2
    }
    val fromVar = p.first.variable.filter(env.has).getOrElse(
      throw new IllegalArgumentException("SHORTEST k start node must be bound"))
    val toNode = p.hops.last._2
    val interiors = p.hops.dropRight(1).map(_._2)
    // interior nodes reusing a PRE-BOUND variable (`MATCH (x) … SHORTEST 2
    // (a)-->(x)-->(b)`): supported at a FIXED offset (all legs up to and
    // including theirs fixed-length) — the constraint applies as a
    // post-search filter on the node array, the same mechanism (and same
    // documented k-displacement divergence) as bound relationship legs.
    // (nv, segment index): a pre-bound interior variable names the node a
    // path must LEAVE segment i on — the search records those
    // boundary-crossing nodes (`bnds`), so the constraint applies at any
    // offset, not only fixed ones. It lands twice: the DISTINCT bound
    // values fold into the segment's in-search boundary set (pruning the
    // product graph), and an exact per-row equality filters post-search
    // (same documented k-displacement divergence as bound rel legs).
    val boundNodeLegs: Seq[(String, Int)] =
      p.hops.dropRight(1).zipWithIndex.flatMap { case ((_, tn), i) =>
        tn.variable.filter(env.has).map(_ -> i)
      }
    // per-state node predicates (reference NFA.scala:157): labels, label
    // alternations (:A|:B), property maps AND inline WHERE on interior
    // nodes become the boundary node set a path must cross between
    // consecutive legs; the last leg's end is the target, constrained by
    // the pair/accept step
    val boundaries = interiors.zipWithIndex.map { case (n, i) =>
      val b0 = boundarySet(ctx, n)
      // pre-bound interior variable: the distinct bound values ARE a
      // boundary set — prune the search to paths crossing one of them
      val bv = boundNodeLegs.collect { case (nv, `i`) =>
        envIn.df.get.select(col(nv).as("id")).distinct()
      }.headOption
      (b0, bv) match {
        case (Some(b), Some(v)) => Some(b.join(v, Seq("id"), "left_semi"))
        case (b, v) => v.orElse(b)
      }
    } :+ None
    // unbounded legs (`-->+` / `-->*` / `*2..`) search to a depth cap: the
    // reference's NFA runs unbounded, but a shortest selector never needs
    // paths past the search horizon on any graph the budget admits —
    // remaining depth after the bounded legs, split across the unbounded
    // ones (≤ 30 each, Σmax ≤ 60 per the product-graph search bound).
    // Documented divergence: a SHORTEST match longer than the cap is missed.
    val boundedSum = p.hops.flatMap(_._1.varLength).collect {
      case (_, Some(m)) => m }.sum + p.hops.count(_._1.varLength.isEmpty)
    val nUnbounded = p.hops.count(_._1.varLength.exists(_._2.isEmpty))
    val unboundedCap =
      if (nUnbounded == 0) 0
      else math.max(1, math.min(30, (60 - boundedSum) / nUnbounded))
    val segs = p.hops.zip(boundaries).map { case ((r, _), bnd) =>
      val (mn, mxOpt) = r.varLength.getOrElse((1, Some(1)))
      val mx = mxOpt.getOrElse(unboundedCap)
      // unbounded quantifier: mx is a search CAP, not a bound — an alive
      // frontier at the cap fires Trail.onHorizon (runtime warning; the
      // documented divergence is otherwise silent)
      val unb = r.varLength.exists(_._2.isEmpty)
      r.branches match {
        case Some(bs) =>
          // alternation between path shapes: each branch compiles to a
          // composite edge relation (whole-branch traversals); their union
          // is the segment's edge set, quantified in branch traversals.
          // A constrained LEADING node filters each traversal's start.
          val comp0 = bs.map(branchEdges(ctx, _,
            r.headNode.flatMap(_.variable), r.groupWhere))
            .reduce(_ unionByName _)
          val comp = r.headNode.flatMap(hn => boundarySet(ctx, hn))
            .fold(comp0)(b => comp0.join(
              b.withColumnRenamed("id", "__es"), Seq("__es"), "left_semi"))
          graft.ops.Trail.PathSegment(comp, mn, mx, bnd, composite = true,
            unbounded = unb)
        case None =>
          // a plain one-hop quantified group `((a)-[r]->(b))+` inside a
          // selector is just a var-length leg: the group variables bind
          // to nothing here (the path value carries nodes/rels)
          graft.ops.Trail.PathSegment(
            ctx.g.orientTyped(r.types, direction(r), stepPredicate(ctx, r),
              stepFilteredRels(ctx, r)),
            mn, mx, bnd, unbounded = unb)
      }
    }
    val pv = s.pathVar.getOrElse(ctx.fresh("p"))
    // endpoint constraints on a PRE-BOUND side (labels, label expressions,
    // property maps, inline WHERE — GQL allows them on any pattern node):
    // semi-join the boundary set; an unbound side gets them on its scan
    def filterEndpoint(d: DataFrame, np: Ast.NodePattern, vcol: String): DataFrame = {
      val preBound = np.variable.exists(envIn.has)
      val b = if (preBound || np.where.isDefined) boundarySet(ctx, np) else None
      b.fold(d)(bs =>
        d.join(bs.withColumnRenamed("id", vcol), Seq(vcol), "left_semi"))
    }
    val toBound = toNode.variable.exists(env.has)
    val toVar = toNode.variable.getOrElse(ctx.fresh("n"))
    val df = {
      val d0 = filterEndpoint(env.df.get, p.first, fromVar)
      if (toBound) filterEndpoint(d0, toNode, toVar) else d0
    }
    val res0 = if (s.groups) {
      // SHORTEST k GROUPS (reference Selector.ShortestGroups): whole
      // length-groups survive, so the search runs the distinct-arrival-
      // depth budget. A single plain var-length leg takes the single-leg
      // shortestGroups (one arrival budget per (source, node));
      // alternation branches and interior node predicates run the same
      // product-graph search as SHORTEST k with group pruning
      // (Trail.shortestGroupsSegments).
      val simple = segs.size == 1 && !segs.head.composite &&
        segs.head.boundary.isEmpty
      val targetIds =
        if (toBound || (toNode.labels.isEmpty && toNode.labelExpr.isEmpty &&
          toNode.props.isEmpty && toNode.where.isEmpty)) None
        else boundarySet(ctx, toNode)
      if (simple) {
        if (toBound)
          graft.ops.Trail.shortestGroups(segs.head.edges,
            df.select(col(fromVar).as("source"), col(toVar).as("target")).distinct(),
            kk, segs.head.min, segs.head.max,
            capIsHorizon = segs.head.unbounded)
        else
          graft.ops.Trail.shortestGroupsTo(segs.head.edges,
            df.select(col(fromVar).as("source")).distinct(), targetIds,
            kk, segs.head.min, segs.head.max,
            capIsHorizon = segs.head.unbounded)
      } else {
        if (toBound)
          graft.ops.Trail.shortestGroupsSegments(segs,
            df.select(col(fromVar).as("source"), col(toVar).as("target")).distinct(),
            kk, partBnds = boundNodeLegs.map(_._2))
        else
          graft.ops.Trail.shortestGroupsSegmentsTo(segs,
            df.select(col(fromVar).as("source")).distinct(),
            targetIds.map(_.select(col("id").as("target"))), kk,
            partBnds = boundNodeLegs.map(_._2))
      }
    } else if (toBound)
      graft.ops.Trail.shortestKSegments(segs,
        df.select(col(fromVar).as("source"), col(toVar).as("target")).distinct(), kk,
        partBnds = boundNodeLegs.map(_._2))
    else {
      // unbound target: source-driven search, accepted ends semi-joined
      // against the label scan — never a sources × candidates cartesian
      // (boundarySet folds the label/props scan AND any inline WHERE)
      val targetIds =
        if (toNode.labels.isEmpty && toNode.labelExpr.isEmpty &&
          toNode.props.isEmpty && toNode.where.isEmpty) None
        else boundarySet(ctx, toNode).map(_.select(col("id").as("target")))
      graft.ops.Trail.shortestKSegmentsTo(segs,
        df.select(col(fromVar).as("source")).distinct(), targetIds, kk,
        partBnds = boundNodeLegs.map(_._2))
    }
    // UNBOUND interior pattern variables BIND from the boundary-crossing
    // nodes the search records per segment transition (`bnds[i]` = the
    // node the path left segment i on) — a later MATCH reusing the
    // variable then joins on the actual interior node (reference: selector
    // patterns export their element variables)
    val interiorBinds: Seq[(String, Int)] =
      p.hops.dropRight(1).zipWithIndex.flatMap { case ((_, tn), i) =>
        tn.variable.filterNot(envIn.has).map(_ -> i)
      }
    val hasBnds = res0.columns.contains("bnds")
    require(boundNodeLegs.isEmpty || hasBnds,
      "bound interior nodes need the segment search (not the single-leg fast path)")
    val res = res0
      .select((col("source") +: col("target") +:
        col("hops").cast("int").as(s"$pv$$length") +:
        col("path").as(s"$pv$$rels") +:
        col("nodes").as(s"$pv$$nodes") +:
        ((if (hasBnds) interiorBinds.map { case (v, i) =>
          element_at(col("bnds"), i + 1).as(v) } else Nil) ++
         (if (hasBnds && boundNodeLegs.nonEmpty)
           Seq(col("bnds").as("__bnds")) else Nil))): _*)
    // legs reusing a PRE-BOUND relationship variable (`MATCH ()-[r]->()
    // MATCH ANY SHORTEST (a)-[r:R]->(b)...`): the matched path must use
    // exactly that relationship at the leg's offset. Supported for single-
    // hop legs at a FIXED offset (every preceding leg fixed-length); the
    // constraint applies as a post-search filter on the rel array —
    // a documented divergence when a same-length unconstrained path would
    // displace the constrained one under a k-limited selector.
    val boundRelLegs: Seq[(String, Int)] = {
      var offset = 0
      var known = true
      val out = Seq.newBuilder[(String, Int)]
      p.hops.foreach { case (r, _) =>
        val fixedLen =
          if (r.branches.isDefined) None
          else if (r.varLength.isEmpty) Some(1)
          else r.varLength.flatMap { case (mn, mx) => mx.filter(_ == mn) }
        r.variable.filter(envIn.has).foreach { rv =>
          require(known && fixedLen.contains(1),
            "SHORTEST k bound relationship legs need a fixed-offset single hop")
          out += ((rv, offset))
        }
        known = known && fixedLen.isDefined
        offset += fixedLen.getOrElse(0)
      }
      out.result()
    }
    def relConstrained(d: DataFrame): DataFrame = {
      val relC = boundRelLegs.foldLeft(d) { case (acc, (rv, off)) =>
        acc.filter(element_at(col(s"$pv$$rels"), off + 1) === col(rv))
      }
      val nodeC = boundNodeLegs.foldLeft(relC) { case (acc, (nv, i)) =>
        acc.filter(element_at(col("__bnds"), i + 1) === col(nv))
      }
      if (boundNodeLegs.nonEmpty) nodeC.drop("__bnds") else nodeC
    }
    val interiorVars: Map[String, Binding] =
      (if (hasBnds) interiorBinds.map(_._1 -> (NodeVar: Binding)) else Nil).toMap
    if (toBound) {
      val joined = df.join(res,
        col(fromVar) === col("source") && col(toVar) === col("target"))
        .drop("source", "target")
      Env(Some(relConstrained(joined)),
        env.binds ++ interiorVars + (pv -> PathVar))
    } else {
      var joined = df.join(res, col(fromVar) === col("source"))
        .drop("source").withColumnRenamed("target", toVar)
      if (ctx.needed.getOrElse(toVar, Set.empty).nonEmpty) {
        val scan = hydrated(ctx, nodeScan(ctx, toNode), toVar, ctx.g.nodes.columns.toSet)
        joined = joined.join(scan, Seq(toVar))
      }
      Env(Some(relConstrained(joined)),
        env.binds ++ interiorVars + (pv -> PathVar) + (toVar -> NodeVar))
    }
  }

  /** Per-state node predicate → boundary node-id set (`id` column):
    * labels / label expressions / property maps via nodeScan; an inline
    * WHERE lands on the same scan, hydrated so `v.prop` resolves
    * (reference NFA.scala:157 per-state predicates). */
  private def boundarySet(ctx: Ctx, n: NodePattern): Option[DataFrame] =
    if (n.labels.isEmpty && n.labelExpr.isEmpty && n.props.isEmpty &&
        n.where.isEmpty) None
    else n.where match {
      case None => Some(nodeScan(ctx, n).select("id"))
      case Some(w) =>
        val v = n.variable.getOrElse(ctx.fresh("bn"))
        // hydrate EVERY property for the inline WHERE: ctx.needed may not
        // track variables that exist only inside a quantified group's
        // head (headNode is outside the neededProps walk); Catalyst prunes
        // the unreferenced columns out of the scan anyway
        val scan = nodeScan(ctx, n).select((col("id").as(v) +:
          col("labels").as(s"$v$$labels") +:
          ctx.g.nodes.columns.filterNot(c => c == "id" || c == "labels")
            .toSeq.sorted.map(c => col(c).as(s"$v$$${colProp(c)}"))): _*)
        val mini = Env(Some(scan), Map(v -> NodeVar))
        // applyWhere (not bare compile): inline WHEREs may be pattern
        // predicates (`(v)-->(:N)`) that lower to semi-joins
        Some(applyWhere(ctx, mini, w).df.get.select(col(v).as("id")))
    }

  /** One alternation branch — a chain of hops, each a single rel or a
    * BOUNDED var-length rel (`-[:X*1..2]->`) — compiled to a composite edge
    * relation: each row is one whole-branch traversal
    * `(__es, __ed, __ers ARRAY<LONG>, __ens ARRAY<LONG>, __elen)`. Interior
    * node patterns apply per traversal at each hop's END node (var-length
    * interiors are unconstrained, standard Cypher); rel ids within a
    * traversal are pairwise distinct — including across hops — so trail
    * semantics hold inside a branch as well as across the accumulated
    * path. `__elen` is the traversal's actual rel count, so quantifiers
    * still count traversals while path length counts rels. */
  /** property keys `pred` reads off variable `v` (Prop(Variable(v), k)). */
  private def propRefsOf(e: Expr, v: String): Set[String] = e match {
    case Prop(Variable(`v`), k) => Set(k)
    case Prop(sub, _)        => propRefsOf(sub, v)
    case Func(_, as, _)      => as.flatMap(propRefsOf(_, v)).toSet
    case BinOp(_, l, r)      => propRefsOf(l, v) ++ propRefsOf(r, v)
    case UnaryOp(_, o)       => propRefsOf(o, v)
    case IsNull(o, _)        => propRefsOf(o, v)
    case StringPred(_, l, r) => propRefsOf(l, v) ++ propRefsOf(r, v)
    case CaseExpr(sub, ws, d) =>
      (sub.toSeq ++ ws.flatMap(w => Seq(w._1, w._2)) ++ d.toSeq)
        .flatMap(propRefsOf(_, v)).toSet
    case ListLit(xs)         => xs.flatMap(propRefsOf(_, v)).toSet
    case Index(l, i)         => propRefsOf(l, v) ++ propRefsOf(i, v)
    case _ => Set.empty
  }

  private def branchEdges(ctx: Ctx,
      hops: Seq[(Ast.RelPattern, Ast.NodePattern)],
      headVar: Option[String] = None,
      groupWhere: Option[Expr] = None): DataFrame = {
    require(hops.nonEmpty, "empty alternation branch")
    var cur: DataFrame = null
    hops.zipWithIndex.foreach { case ((r, n), i) =>
      require(r.qppVars.isEmpty && r.branches.isEmpty,
        "alternation branches take single or bounded var-length hops")
      val e = ctx.g.orientTyped(r.types, direction(r), stepPredicate(ctx, r),
          stepFilteredRels(ctx, r))
        .select(col("id").as("__r"), col("src").as("__s"), col("dst").as("__d"))
      val (min, max) = r.varLength match {
        case None => (1, 1)
        case Some((mn, mxOpt)) => (mn, mxOpt.getOrElse(
          throw new IllegalArgumentException(
            "var-length hops inside an alternation need a bounded upper " +
              "end (e.g. [*1..3])")))
      }
      // extend every accumulated traversal by one rel of this hop
      def step(df: DataFrame): DataFrame = df
        .join(e, col("__ed") === col("__s") &&
          !array_contains(col("__ers"), col("__r")))
        .select(col("__es"), col("__d").as("__ed"),
          concat(col("__ers"), array(col("__r"))).as("__ers"),
          concat(col("__ens"), array(col("__d"))).as("__ens"))
      // bring cur to this hop's level `min` …
      if (cur == null) {
        if (min == 0)
          // zero-able first hop: zero-length traversals from every node
          cur = ctx.g.nodes.select(col("id").as("__es"), col("id").as("__ed"),
            array().cast("array<long>").as("__ers"),
            array().cast("array<long>").as("__ens"))
        else {
          cur = e.select(col("__s").as("__es"), col("__d").as("__ed"),
            array(col("__r")).as("__ers"), array(col("__d")).as("__ens"))
          (2 to min).foreach(_ => cur = step(cur))
        }
      } else {
        (1 to min).foreach(_ => cur = step(cur))
      }
      // … then union the longer levels up to max
      var level = cur
      (min + 1 to max).foreach { _ =>
        level = step(level)
        cur = cur.unionByName(level)
      }
      // the hop's end-node pattern constrains EVERY traversal of the
      // branch (boundarySet covers labels, props and inline WHERE)
      boundarySet(ctx, n).foreach { b =>
        cur = cur.join(b.withColumnRenamed("id", "__ed"), Seq("__ed"),
          "left_semi")
      }
    }
    // group-scoped WHERE over SEVERAL iteration variables: hydrate each
    // referenced variable's id (head = __es; hop i's end/rel from the
    // accumulated arrays — static positions, so single-hop elements only)
    // and filter every traversal of the composite edge set
    groupWhere.foreach { pred =>
      require(hops.forall(_._1.varLength.isEmpty),
        "a multi-variable quantified-group WHERE needs single-hop " +
          "chain elements")
      var d = cur
      var binds = Map.empty[String, Binding]
      def hydrate(v: String, idc: Column, table: DataFrame,
          b: Binding): Unit = {
        d = d.withColumn(v, idc)
        val props = propRefsOf(pred, v)
          .filter(k => table.columns.contains(propCol(k))).toSeq.sorted
        if (props.nonEmpty)
          d = d.join(table.select((col("id").as(v) +:
              props.map(k => col(propCol(k)).as(s"$v$$$k"))): _*),
            Seq(v), "left_outer")
        binds += (v -> b)
      }
      headVar.foreach(v => hydrate(v, col("__es"), ctx.g.nodes, NodeVar))
      hops.zipWithIndex.foreach { case ((r, n), i) =>
        n.variable.foreach(v =>
          hydrate(v, element_at(col("__ens"), i + 1), ctx.g.nodes, NodeVar))
        r.variable.foreach(v =>
          hydrate(v, element_at(col("__ers"), i + 1), ctx.g.rels, RelVar))
      }
      // pattern/subquery expressions inside a per-iteration group WHERE
      // (`((n)-[r]->(m) WHERE (m)-->(:N))+`, reference PathSelector
      // acceptance) lower to flag joins over the composite edge rows —
      // BEFORE quantification/selection, as the reference's NFA does
      val env0 = Env(Some(d), binds)
      d =
        if (containsPatternExists(pred)) {
          val (env2, rewritten, flags) = lowerExists(ctx, env0, pred)
          env2.df.get.filter(compile(ctx, env2, rewritten)).drop(flags: _*)
        } else d.filter(compile(ctx, env0, pred))
      cur = d.select(col("__es"), col("__ed"), col("__ers"), col("__ens"))
    }
    cur.select(col("__es"), col("__ed"), col("__ers"), col("__ens"),
      size(col("__ers")).as("__elen"))
  }

  /** DNF relationship-type-expression filter over the single `type`
    * column (`[:!A]`, `[:(!A&B)|C]`, `[:%]` — a rel has exactly one type,
    * so atoms evaluate directly against it). */
  private def typeExprFilter(dnf: Seq[Seq[Ast.LabelAtom]]): Column =
    dnf.map(_.map { a =>
      if (a.name == "%") { if (a.negated) lit(false) else lit(true) }
      else if (a.negated) col("type") =!= a.name
      else col("type") === a.name
    }.reduce(_ && _)).reduce(_ || _)

  private def relVars(env: Env): Set[String] =
    env.binds.collect { case (v, RelVar | RelListVar) => v }.toSet

  /** Relationship uniqueness across all rel variables bound by this MATCH
    * clause (reference front-end AddUniquenessPredicates.scala): pairwise
    * `<>` for fixed rels, array-containment for var-length groups. */
  private def applyUniqueness(ctx: Ctx, env: Env, before: Set[String]): Env = {
    val df = env.df.getOrElse(return env)
    val fresh = (relVars(env) -- before -- ctx.relUniqExempt).toSeq.sorted
    val fixed = fresh.filter(v => env.binds(v) == RelVar)
    val lists = fresh.filter(v => env.binds(v) == RelListVar)
    val preds =
      (for (i <- fixed.indices; j <- i + 1 until fixed.size)
        yield col(fixed(i)) =!= col(fixed(j))) ++
      (for (f <- fixed; l <- lists) yield !array_contains(col(l), col(f))) ++
      (for (i <- lists.indices; j <- i + 1 until lists.size)
        yield !arrays_overlap(col(lists(i)), col(lists(j))))
    if (preds.isEmpty) env
    else env.copy(df = Some(df.filter(preds.reduce(_ && _))))
  }

  /** WHERE: top-level conjuncts are split; pattern predicates become
    * semi/anti joins (NestedPlanExpression in the reference,
    * LogicalPlan SemiApply/AntiSemiApply), the rest a row filter. */
  /** Label/type expressions over a VARIANT-ENCODED value (`UNWIND [a, b,
    * c] AS x … WHERE x:A`, reference LabelExpressionAcceptance "unknown
    * entity type"): hydrate `x$labels` at runtime by decoding the entity
    * id and joining the current snapshot — node rank gets its labels
    * array, relationship rank its type as a one-element array (so `x:B`
    * tests the type and `x:%` tests non-emptiness uniformly); non-entity
    * ranks stay NULL and match nothing. */
  private def hydrateVariantLabels(ctx: Ctx, env: Env, pred: Expr): Env = {
    val O = graft.functions.Orderability
    def subjects(e: Expr): Set[String] = e match {
      case HasLabel(Variable(v), _) => Set(v)
      case HasLabel(s, _)      => subjects(s)
      case BinOp(_, l, r)      => subjects(l) ++ subjects(r)
      case UnaryOp(_, o)       => subjects(o)
      case IsNull(o, _)        => subjects(o)
      case CaseExpr(s, ws, d)  => s.toSeq.flatMap(subjects).toSet ++
        ws.flatMap(w => subjects(w._1) ++ subjects(w._2)) ++
        d.toSeq.flatMap(subjects)
      case Func(_, as, _)      => as.flatMap(subjects).toSet
      case IterPredicate(_, _, l, p) => subjects(l) ++ subjects(p)
      case _ => Set.empty
    }
    subjects(pred).foldLeft(env) { (e, v) =>
      val eligible = e.binds.get(v).contains(ValueVar) &&
        e.df.exists(d => d.columns.contains(v) &&
          !d.columns.contains(s"$v$$labels") &&
          O.isEncoded(d.schema(v).dataType))
      if (!eligible) e
      else {
        val nid = when(col(v).getField("rank") === lit(O.RankNode),
          col(v).getField("s").cast("long"))
        val rid = when(col(v).getField("rank") === lit(O.RankRel),
          col(v).getField("s").cast("long"))
        val lbl = ctx.fresh("vlb")
        val tpe = ctx.fresh("vtp")
        val df2 = e.df.get
          .withColumn(s"__${lbl}_n", nid).withColumn(s"__${lbl}_r", rid)
          .join(ctx.g.nodes.select(col("id").as(s"__${lbl}_n"),
            col("labels").as(lbl)), Seq(s"__${lbl}_n"), "left_outer")
          .join(ctx.g.rels.select(col("id").as(s"__${lbl}_r"),
            col("type").as(tpe)), Seq(s"__${lbl}_r"), "left_outer")
          .withColumn(s"$v$$labels",
            when(col(s"__${lbl}_n").isNotNull, col(lbl))
              .when(col(s"__${lbl}_r").isNotNull, array(col(tpe))))
          .drop(s"__${lbl}_n", s"__${lbl}_r", lbl, tpe)
        e.copy(df = Some(df2))
      }
    }
  }

  private def applyWhere(ctx: Ctx, env: Env, pred: Expr): Env = {
    def conjuncts(e: Expr): Seq[Expr] = e match {
      case BinOp("AND", l, r) => conjuncts(l) ++ conjuncts(r)
      case other              => Seq(other)
    }
    conjuncts(pred).foldLeft(hydrateVariantLabels(ctx,
      enrichPathElems(ctx, env, Seq(pred)), pred)) { (e, c) =>
      c match {
        case PatternExists(p, w, _, _)               => planExists(ctx, e, p, w, anti = false)
        case UnaryOp("NOT", PatternExists(p, w, _, _)) => planExists(ctx, e, p, w, anti = true)
        case other if containsPatternExists(other) =>
          // pattern predicate under OR/XOR/CASE…: lower each EXISTS to a
          // boolean flag column (LetSemiApply / SelectOrSemiApply family,
          // reference LogicalPlan :2537/:3604), then filter the rewritten
          // expression
          val (env2, rewritten, flags) = lowerExists(ctx, e, other)
          val filtered = env2.df.map(_.filter(compile(ctx, env2, rewritten)).drop(flags: _*))
          env2.copy(df = filtered)
        case other =>
          e.copy(df = e.df.map(_.filter(compile(ctx, e, other))))
      }
    }
  }

  private def containsPatternExists(e: Expr): Boolean = e match {
    case _: PatternExists        => true
    case _: PatternCount         => true
    case _: SubqueryExpr         => true
    case _: PatternComprehension => true
    case _: ShortestPathExpr     => true
    case BinOp(_, l, r)         => containsPatternExists(l) || containsPatternExists(r)
    case UnaryOp(_, o)          => containsPatternExists(o)
    case IsNull(o, _)           => containsPatternExists(o)
    case Func(_, args, _)       => args.exists(containsPatternExists)
    case CaseExpr(s, ws, d)     =>
      s.exists(containsPatternExists) ||
        ws.exists(w => containsPatternExists(w._1) || containsPatternExists(w._2)) ||
        d.exists(containsPatternExists)
    case ListLit(xs)            => xs.exists(containsPatternExists)
    case ListComprehension(_, l, w, pr) => containsPatternExists(l) ||
      w.exists(containsPatternExists) || pr.exists(containsPatternExists)
    case MapLit(es)             => es.exists(kv => containsPatternExists(kv._2))
    case Index(l, i)            => containsPatternExists(l) || containsPatternExists(i)
    case Slice(l, f, t)         => containsPatternExists(l) ||
      f.exists(containsPatternExists) || t.exists(containsPatternExists)
    case StringPred(_, l, r)    => containsPatternExists(l) || containsPatternExists(r)
    case Prop(s, _)             => containsPatternExists(s)
    case _                      => false
  }

  /** Replace every PatternExists inside `e` with a boolean flag variable
    * whose column is computed via a left-outer flag join. Returns the
    * augmented env, the rewritten expression, and the flag column names. */
  private def lowerExists(ctx: Ctx, env0: Env, e: Expr): (Env, Expr, Seq[String]) = {
    var env = env0
    val flags = Seq.newBuilder[String]
    def subPlan(p0: PathPattern, w0: Option[Expr],
        extra: Set[String] = Set.empty): (Seq[String], Env) = {
      val df = env.df.get
      // inline node WHEREs referencing OTHER pattern elements
      // (`[(a WHERE b.prop > 100)-[r]-(b) | …]`, reference
      // NodePatternPredicatesAcceptance) lift into the comprehension's
      // WHERE, which applies once the whole sub-pattern is planned —
      // the scan-level inline position cannot see the later binding
      val liftedLate = Seq.newBuilder[Expr]
      def liftNode(np: NodePattern): NodePattern = np.where match {
        case Some(wx) if (exprVars(wx) -- np.variable.toSet)
            .intersect(patternVars(p0).toSet -- np.variable.toSet).nonEmpty =>
          liftedLate += wx
          np.copy(where = None)
        case _ => np
      }
      val p = p0.copy(first = liftNode(p0.first),
        hops = p0.hops.map { case (r, n) =>
          (r, if (r.varLength.isEmpty && r.qppVars.isEmpty &&
            r.branches.isEmpty) liftNode(n) else n)
        })
      val w = (w0.toSeq ++ liftedLate.result())
        .reduceOption(BinOp("AND", _, _))
      // the pattern's own path NAME shadows any same-named outer variable
      // (`[p = (x)-->(:Y) | p]` under an outer path p) — never a
      // correlation key
      val refs = (patternVars(p) ++ w.map(exprVars).getOrElse(Set.empty) ++ extra)
        .filter(env.has).filterNot(v => p.name.contains(v)).toSeq.sorted
      // refs empty = an UNCORRELATED pattern subquery: plan it standalone
      // (runs once); callers join back with an always-true outer join
      val keyCols = if (refs.isEmpty) Nil else refKeyCols(df, refs)
      val base =
        if (refs.isEmpty) Env(None, Map.empty)
        else Env(Some(df.select(keyCols.map(col): _*).distinct()),
          env.binds.view.filterKeys(refs.contains).toMap)
      val relsBefore = relVars(base)
      // a NULL entity binding matches no pattern (reference: a pattern
      // over a null node/relationship yields no rows — `[(n)-->() | 1]`
      // with n from a failed OPTIONAL MATCH is []): filter null STRUCTURAL
      // keys before planning; WHERE-only references keep their 3VL nulls
      val structural = patternVars(p).filter(v => base.binds.get(v).exists {
        case NodeVar | RelVar => true; case _ => false })
      var sub = structural.foldLeft(base) { (e, v) =>
        e.copy(df = e.df.map(_.filter(col(v).isNotNull)))
      }
      sub = planPath(ctx, sub, p)
      sub = drainDeferredGroupWhere(ctx, sub)
      // relationship uniqueness holds INSIDE a pattern predicate too
      // (reference AddUniquenessPredicates covers subquery expressions)
      sub = applyUniqueness(ctx, sub, relsBefore)
      w.foreach { pred => sub = applyWhere(ctx, sub, pred) }
      // join back on entity identity only (the reference's SemiApply keys on
      // ids): hydrated `v$prop` columns can be NULL and using-joins are
      // null-unsafe, so a NULL property must not make the key miss
      (refs, sub)
    }
    def rewrite(x: Expr): Expr = x match {
      case PatternExists(p, w, _, _) =>
        val flag = ctx.fresh("exists")
        val (keyCols, sub) = subPlan(p, w)
        val hit = sub.df.get.select(keyCols.map(col): _*).distinct()
          .withColumn(flag, lit(true))
        val joined =
          if (keyCols.isEmpty)
            env.df.get.join(hit.limit(1), lit(true), "left_outer")
          else nullSafeJoin(env.df.get, hit, keyCols, "left_outer")
        env = env.copy(df = Some(
          joined.withColumn(flag, coalesce(col(flag), lit(false)))),
          binds = env.binds + (flag -> ValueVar))
        flags += flag
        Variable(flag)
      case PatternCount(p, w) =>
        val cnt = ctx.fresh("cnt")
        val (keyCols, sub) = subPlan(p, w)
        val counts = sub.df.get.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as(cnt))
        val joined =
          if (keyCols.isEmpty)
            env.df.get.join(counts, lit(true), "left_outer")
          else nullSafeJoin(env.df.get, counts, keyCols, "left_outer")
        env = env.copy(df = Some(
          joined.withColumn(cnt, coalesce(col(cnt), lit(0L)))),
          binds = env.binds + (cnt -> ValueVar))
        flags += cnt
        Variable(cnt)
      case SubqueryExpr("exists", q) if q.parts.forall(_.clauses.lastOption.exists {
          case r: ReturnClause => r.items.nonEmpty &&
            r.items.forall(i => containsAgg(i.expr)) &&
            r.skip.isEmpty && r.limit.isEmpty
          case _ => false
        }) =>
        // a body ending in an UNGROUPED aggregation yields exactly one row
        // whether or not anything matched (reference: aggregation over zero
        // rows still returns a row) — the EXISTS is unconditionally true
        Lit(true)
      case SubqueryExpr("count", q) if (q.parts.size == 1 || q.unionAll) &&
        q.parts.forall(_.clauses.lastOption.exists {
          case r: ReturnClause => r.items.nonEmpty &&
            r.items.forall(i => containsAgg(i.expr)) &&
            r.skip.isEmpty && r.limit.isEmpty
          case _ => false
        }) =>
        // same zero-row-aggregation rule for COUNT{}: each UNION ALL part
        // contributes exactly one row regardless of matches
        Lit(q.parts.size.toLong)
      case SubqueryExpr(kind, q) =>
        // full-query body: correlation inferred from the free variables,
        // each UNION part planned over the distinct imported keys through
        // the shared correlated-body planner, results unioned per the
        // query's UNION [ALL], then reduced to a flag / count / list
        val flag = ctx.fresh(kind)
        val df = env.df.get
        val refs = subqueryScopeVars(q).filter(env.has).toSeq.sorted
        val keyCols = if (refs.isEmpty) Nil else refKeyCols(df, refs)
        val base =
          if (refs.isEmpty) Env(None, Map.empty)
          else Env(Some(df.select(keyCols.map(col): _*).distinct()),
            env.binds.view.filterKeys(refs.contains).toMap)
        val needsValue = kind == "collect"
        val okPrefix = "__ok"
        def planPart(sq: SingleQuery): DataFrame = {
          val clauses = sq.clauses.lastOption match {
            case Some(r: ReturnClause) if needsValue =>
              require(r.items.size == 1,
                "COLLECT { … } needs a single-item RETURN")
              // the value lands in __cv; ORDER BY keys ride as extra
              // columns so the collected array can be sorted per key
              // (order exprs naming the item's alias resolve to the item)
              val alias = itemAlias(r.items.head)
              def deref(e: Expr): Expr = e match {
                case Variable(v) if v == alias => r.items.head.expr
                case other => other
              }
              val okItems = r.orderBy.zipWithIndex.map { case (x, i) =>
                ReturnItem(deref(x.expr), Some(s"$okPrefix$i")) }
              val r2 = r.copy(
                items = r.items.head.copy(alias = Some("__cv")) +: okItems,
                orderBy = r.orderBy.map(x => x.copy(expr = deref(x.expr))))
              sq.clauses.dropRight(1) :+ r2
            case Some(_: ReturnClause) => sq.clauses
            case _ =>
              sq.clauses :+ ReturnClause(false,
                Seq(ReturnItem(Lit(1L), Some("__one"))), Nil, None, None)
          }
          // an all-aggregate final RETURN yields EXACTLY ONE row per outer
          // key — keys with zero matches still get the aggregate-over-zero-
          // rows value (reference CollectExpressionAcceptance "COLLECT
          // subquery with aggregation inside": count over no rows is 0).
          // The zero-row value is computed EXACTLY by running the same
          // projection as a global aggregate over an empty slice of the
          // body frame (one driver-free row), cross-joined to the missing
          // keys. Per-key SKIP/LIMIT over the 1-row groups keeps the
          // generic path.
          val aggFinal = clauses.lastOption.exists {
            case r: ReturnClause => r.items.nonEmpty &&
              r.items.forall(i => containsAgg(i.expr)) &&
              r.skip.isEmpty && r.limit.isEmpty
            case _ => false
          }
          if (needsValue && aggFinal && refs.nonEmpty) {
            val r2 = clauses.last.asInstanceOf[ReturnClause]
            val subBody = planCorrelatedClauses(ctx, base, refs,
              clauses.dropRight(1))
            val matched = planProjection(ctx, subBody,
              withRefs(refs, r2.items), r2.distinct, Nil, None, None,
              isReturn = false).df.get
            val zero = planProjection(ctx,
              subBody.copy(df = subBody.df.map(_.limit(0))), r2.items,
              r2.distinct, Nil, None, None, isReturn = false).df.get
            val missing = nullSafeJoin(base.df.get,
              matched.select(keyCols.map(col): _*), keyCols, "left_anti")
            matched.unionByName(missing.crossJoin(zero),
              allowMissingColumns = true)
          } else planCorrelatedClauses(ctx, base, refs, clauses).df.get
        }
        val parts0 = q.parts.map(planPart)
        // COLLECT over a union concatenates the parts' lists IN PART ORDER
        // (each part ordered by its own ORDER BY): ride a part index
        val parts =
          if (needsValue && parts0.size > 1)
            parts0.zipWithIndex.map { case (d, i) =>
              d.withColumn("__part", lit(i)) }
          else parts0
        var unioned = parts.reduce(_.unionByName(_, allowMissingColumns = true))
        if (q.parts.size > 1 && !q.unionAll)
          unioned = unioned.dropDuplicates(
            unioned.columns.filterNot(_ == "__part").toIndexedSeq)
        // join back on entity identity only (the reference's SemiApply
        // keys on ids): the sub-plan's RETURN projection drops hydrated
        // `v$prop` columns, and NULLable property columns would make a
        // using-join key miss anyway
        val joinedBack = kind match {
          case "exists" =>
            val hit = unioned.select(refs.map(col): _*).distinct()
              .withColumn(flag, lit(true))
            val j =
              if (refs.isEmpty)
                env.df.get.join(hit.limit(1), lit(true), "left_outer")
              else nullSafeJoin(env.df.get, hit, refs, "left_outer")
            j.withColumn(flag, coalesce(col(flag), lit(false)))
          case "count" =>
            val counts = unioned.groupBy(refs.map(col): _*)
              .agg(count(lit(1)).as(flag))
            val j =
              if (refs.isEmpty)
                env.df.get.join(counts, lit(true), "left_outer")
              else nullSafeJoin(env.df.get, counts, refs, "left_outer")
            j.withColumn(flag, coalesce(col(flag), lit(0L)))
          case _ => // collect
            val okCols = unioned.columns.filter(_.startsWith(okPrefix)).sorted
            val partKey = unioned.columns.contains("__part")
            val collected =
              if (okCols.isEmpty && !partKey)
                // struct-wrap so collect_list RETAINS null elements
                // (reference COLLECT keeps nulls; bare collect_list drops)
                unioned.withColumn("__cs", struct(col("__cv")))
                  .groupBy(refs.map(col): _*)
                  .agg(transform(collect_list(col("__cs")),
                    x => x.getField("__cv")).as(flag))
              else {
                // sort the collected array by the ORDER BY keys (nulls
                // per the final Return's direction — encoded in the
                // original SortItems; keys ride in __ok columns in the
                // same order)
                val ords = q.parts.head.clauses.last
                  .asInstanceOf[ReturnClause].orderBy
                val cmp = (l: Column, r: Column) => {
                  val okCmp =
                    ords.zipWithIndex.foldRight(lit(0)) { case ((si, i), nx) =>
                      val (lk, rk) =
                        (l.getField(s"$okPrefix$i"), r.getField(s"$okPrefix$i"))
                      val lt = if (si.ascending) -1 else 1
                      when(lk.isNull && rk.isNull, nx)
                        .when(lk.isNull, lit(-lt)).when(rk.isNull, lit(lt))
                        .when(lk < rk, lit(lt)).when(lk > rk, lit(-lt))
                        .otherwise(nx)
                    }
                  if (!partKey) okCmp
                  else { // part-major: concatenation order of UNION ALL
                    val (lp, rp) = (l.getField("__part"), r.getField("__part"))
                    when(lp < rp, lit(-1)).when(lp > rp, lit(1)).otherwise(okCmp)
                  }
                }
                val skCols =
                  (if (partKey) Seq(col("__part")) else Nil) ++ okCols.map(col)
                unioned
                  .withColumn("__cs", struct((skCols :+ col("__cv")): _*))
                  .groupBy(refs.map(col): _*)
                  .agg(transform(array_sort(collect_list(col("__cs")), cmp),
                    x => x.getField("__cv")).as(flag))
              }
            val listType = collected.schema(flag).dataType
            val j =
              if (refs.isEmpty)
                env.df.get.join(collected, lit(true), "left_outer")
              else nullSafeJoin(env.df.get, collected, refs, "left_outer")
            j.withColumn(flag, coalesce(col(flag), array().cast(listType)))
        }
        env = env.copy(df = Some(joinedBack),
          binds = env.binds + (flag -> ValueVar))
        flags += flag
        Variable(flag)
      case PatternComprehension(p, w, proj0, ord, skipE, limitE) =>
        // RollUpApply (reference LogicalPlan RollUpApply /
        // ReplacePatternComprehensionWithCollectSubquery): plan the pattern
        // from the distinct referenced keys, collect the projection per key,
        // left-outer join back, no-match → empty list. Without ORDER BY the
        // element order is deterministic (sorted) — Cypher leaves it
        // unspecified. COLLECT{… ORDER BY k SKIP s LIMIT n} sorts inside the
        // collected array (array_sort comparator, null-is-largest per Cypher
        // orderability, value tie-break for determinism) then slices — one
        // shuffle regardless of ordering/pagination.
        val lcol = ctx.fresh("pc")
        val (keyCols, sub0) = subPlan(p, w,
          exprVars(proj0) ++ ord.flatMap(s => exprVars(s.expr)))
        // the projection may itself contain pattern comprehensions /
        // subquery expressions (nested comprehensions): lower them against
        // the SUB plan's scope, where the inner pattern variables are bound
        val (sub, proj) =
          if (containsPatternExists(proj0)) {
            val (s2, p2, _) = lowerExists(ctx, sub0, proj0)
            (s2, p2)
          } else (sub0, proj0)
        val collected = if (ord.isEmpty) {
          // struct-wrap so null projections are RETAINED in the list
          // (bare collect_list drops null elements; the reference keeps
          // them — `[(p)-->(f) | f.missing]` is [null, …])
          sub.df.get
            .withColumn("__pcs", struct(compile(ctx, sub, proj).as("v")))
            .groupBy(keyCols.map(col): _*)
            .agg(transform(sort_array(collect_list(col("__pcs"))),
              x => x.getField("v")).as(lcol))
        } else {
          val fields = ord.zipWithIndex.map { case (s, i) =>
            compile(ctx, sub, s.expr).as(s"k$i") } :+
            compile(ctx, sub, proj).as("v")
          val cmp = (l: Column, r: Column) => {
            val tie = when(l.getField("v").isNull || r.getField("v").isNull, lit(0))
              .when(l.getField("v") < r.getField("v"), lit(-1))
              .when(l.getField("v") > r.getField("v"), lit(1))
              .otherwise(lit(0))
            ord.zipWithIndex.foldRight(tie) { case ((s, i), next) =>
              val (lk, rk) = (l.getField(s"k$i"), r.getField(s"k$i"))
              val lt = if (s.ascending) -1 else 1
              when(lk.isNull && rk.isNull, next)
                .when(lk.isNull, lit(-lt)).when(rk.isNull, lit(lt))
                .when(lk < rk, lit(lt)).when(lk > rk, lit(-lt))
                .otherwise(next)
            }
          }
          sub.df.get
            .withColumn("__pcs", struct(fields: _*))
            .groupBy(keyCols.map(col): _*)
            .agg(transform(array_sort(collect_list(col("__pcs")), cmp),
              x => x.getField("v")).as(lcol))
        }
        val sliced =
          if (skipE.isEmpty && limitE.isEmpty) collected
          else {
            val start = skipE.map(e => compile(ctx, env, e).cast("int"))
              .getOrElse(lit(0)) + lit(1)
            val len = limitE.map(e => compile(ctx, env, e).cast("int"))
              .getOrElse(size(col(lcol)))
            collected.withColumn(lcol, slice(col(lcol), start, len))
          }
        val listType = sliced.schema(lcol).dataType
        val joinedPc =
          if (keyCols.isEmpty) env.df.get.join(sliced, lit(true), "left_outer")
          else nullSafeJoin(env.df.get, sliced, keyCols, "left_outer")
        env = env.copy(df = Some(
          joinedPc.withColumn(lcol, coalesce(col(lcol), array().cast(listType)))),
          binds = env.binds + (lcol -> ValueVar))
        flags += lcol
        Variable(lcol)
      case ShortestPathExpr(p0, all) =>
        // shortestPath() as an EXPRESSION (reference ShortestPathAcceptance
        // "Find a shortest path in an expression context"): plan the
        // legacy shortest search from the distinct endpoint keys, LEFT
        // OUTER join the path columns back — no path is NULL, not row
        // elimination. allShortestPaths in expression position would be a
        // LIST of paths — unsupported shape, explicit error.
        require(!all,
          "allShortestPaths() is not supported in expression position")
        val pv = ctx.fresh("spx")
        val refs = patternVars(p0).filter(env.has).toSeq.sorted
        require(refs.nonEmpty,
          "shortestPath() in expression position needs bound endpoints")
        val keyCols = refKeyCols(env.df.get, refs)
        val base = Env(Some(env.df.get.select(keyCols.map(col): _*).distinct()),
          env.binds.view.filterKeys(refs.contains).toMap)
        // the plan-time-synthesized path variable needs its full node/rel
        // sequences (the expression VALUE is the path)
        ctx.needed = ctx.needed +
          (pv -> (ctx.needed.getOrElse(pv, Set.empty) + "nodes" + "rels"))
        val sub = planShortest(ctx, base,
          ShortestPart(Some(pv), p0, all = false, legacy = true))
        val joined = nullSafeJoin(env.df.get,
          sub.df.get.select((refs.map(col) ++ Seq(col(s"$pv$$nodes"),
            col(s"$pv$$rels"), col(s"$pv$$length"))): _*),
          refs, "left_outer")
        env = env.copy(df = Some(joined),
          binds = env.binds + (pv -> PathVar))
        flags += s"$pv$$nodes"
        flags += s"$pv$$rels"
        flags += s"$pv$$length"
        Variable(pv)
      case ListComprehension(v, lst, w, proj)
          if (w.toSeq ++ proj.toSeq).exists(containsPatternExists) &&
            !env.df.exists(_.columns.contains(v)) =>
        // a pattern/subquery expression correlated on the list-
        // comprehension variable (`[x IN nodes(p) | size([(x)-->(:Y)|1])]`,
        // reference PatternExpressionAcceptance) cannot lower inside a
        // Spark lambda: explode the list positionally, lower the inner
        // subqueries against the exploded scope (the loop variable is a
        // real column there), then re-collect in position order per source
        // row. Cost scales with Σ list sizes, the same work the reference's
        // per-element nested-plan evaluation does.
        val outCol = ctx.fresh("lcp")
        val rid = ctx.fresh("lcid")
        val posC = ctx.fresh("lcpos")
        val df0 = env.df.get.withColumn(rid, monotonically_increasing_id())
          .freshCkpt() // rid must be stable across the self-join below
        val lstCol = compile(ctx, env.copy(df = Some(df0)), lst)
        val exploded = df0.select(col("*"),
          posexplode(lstCol).as(Seq(posC, v)))
        val elemBind: Binding = entityListKind(env, lst) match {
          case Some(NodeListVar) => NodeVar
          case Some(RelListVar)  => RelVar
          case _                 => ValueVar
        }
        var envE = Env(Some(exploded), env.binds + (v -> elemBind))
        def lowerIn(e0: Expr): Expr =
          if (!containsPatternExists(e0)) e0
          else { val (e2, r2, _) = lowerExists(ctx, envE, e0); envE = e2; r2 }
        val w2 = w.map(lowerIn)
        val proj2 = proj.map(lowerIn)
        var edf = envE.df.get
        w2.foreach { pred =>
          edf = edf.filter(compile(ctx, envE.copy(df = Some(edf)), pred)) }
        val valueC = proj2.map(p2 =>
          compile(ctx, envE.copy(df = Some(edf)), p2)).getOrElse(col(v))
        val collectedLc = edf
          .withColumn("__lcs", struct(col(posC).as("p"), valueC.as("v")))
          .groupBy(col(rid))
          .agg(transform(array_sort(collect_list(col("__lcs"))),
            x => x.getField("v")).as(outCol))
        val lcType = collectedLc.schema(outCol).dataType
        val joinedLc = df0.join(collectedLc, Seq(rid), "left_outer")
          .withColumn(outCol, when(lstCol.isNull, lit(null).cast(lcType))
            .otherwise(coalesce(col(outCol), array().cast(lcType))))
          .drop(rid)
        env = env.copy(df = Some(joinedLc),
          binds = env.binds + (outCol -> ValueVar))
        flags += outCol
        Variable(outCol)
      case BinOp(op, l, r)   => BinOp(op, rewrite(l), rewrite(r))
      case UnaryOp(op, o)    => UnaryOp(op, rewrite(o))
      case IsNull(o, n)      => IsNull(rewrite(o), n)
      case Func(n, args, d)  => Func(n, args.map(rewrite), d)
      case CaseExpr(s, ws, d) =>
        CaseExpr(s.map(rewrite), ws.map { case (a, b) => (rewrite(a), rewrite(b)) },
          d.map(rewrite))
      case ListLit(xs)       => ListLit(xs.map(rewrite))
      case MapLit(es)        => MapLit(es.map { case (k, v) => (k, rewrite(v)) })
      case Index(l, i)       => Index(rewrite(l), rewrite(i))
      case Slice(l, f, t)    => Slice(rewrite(l), f.map(rewrite), t.map(rewrite))
      case StringPred(op, l, r) => StringPred(op, rewrite(l), rewrite(r))
      case Prop(s, k)        => Prop(rewrite(s), k)
      case other => other
    }
    val rewritten = rewrite(e)
    (env, rewritten, flags.result())
  }

  /** EXISTS {...} / NOT EXISTS: plan the sub-pattern from the distinct
    * projection of the bound variables it references, then semi/anti-join —
    * the decorrelated form of the reference's nested-plan expression. */
  private def planExists(ctx: Ctx, env: Env, p: PathPattern, where: Option[Expr],
      anti: Boolean): Env = {
    val df = env.df.getOrElse(throw new IllegalArgumentException(
      "EXISTS pattern requires bound variables"))
    val refs = (patternVars(p) ++ where.map(exprVars).getOrElse(Set.empty))
      .filter(env.has).toSeq.sorted
    // uncorrelated EXISTS: plan standalone; all rows keep (semi) or drop
    // (anti) depending on whether the sub-pattern matched at all
    val keyCols = if (refs.isEmpty) Nil else refKeyCols(df, refs)
    val base =
      if (refs.isEmpty) Env(None, Map.empty)
      else Env(Some(df.select(keyCols.map(col): _*).distinct()),
        env.binds.view.filterKeys(refs.contains).toMap)
    val relsBefore = relVars(base)
    var sub = planPath(ctx, base, p)
    sub = drainDeferredGroupWhere(ctx, sub)
    sub = applyUniqueness(ctx, sub, relsBefore)
    where.foreach { w => sub = applyWhere(ctx, sub, w) }
    // semi/anti-join on the variable ids only: `v$prop` hydrated columns may
    // be NULL (union schema across labels) and using-joins are null-unsafe
    if (refs.isEmpty) {
      val any = sub.df.get.limit(1)
      env.copy(df = Some(
        df.join(any, lit(true), if (anti) "left_anti" else "left_semi")))
    } else {
      val key = sub.df.get.select(refs.map(col): _*).distinct()
      env.copy(df = Some(nullSafeJoin(df, key, refs,
        if (anti) "left_anti" else "left_semi")))
    }
  }

  /** Cross-iteration QPP group WHEREs surfaced while planning a subquery
    * expression's pattern (EXISTS{}, COUNT{}, pattern comprehension) apply
    * to THAT sub-plan — all their variables are bound once the whole
    * sub-pattern is planned. Draining here keeps them from leaking into the
    * ENCLOSING clause's pending WHERE, where they would wrongly filter or
    * fail analysis. */
  private def drainDeferredGroupWhere(ctx: Ctx, env: Env): Env =
    if (ctx.deferredGroupWhere.isEmpty) env
    else {
      val conjs = ctx.deferredGroupWhere.toList
      ctx.deferredGroupWhere.clear()
      conjs.foldLeft(env)((e, c) => applyWhere(ctx, e, c))
    }

  /** Columns a decorrelated sub-plan needs from the outer row: the referenced
    * variables plus their already-hydrated `v$prop` columns (functionally
    * dependent on the id; the sub-plan may read them). Only the `refs`
    * themselves may be used as join-back keys — property columns can be NULL
    * and using-column joins are null-unsafe. */
  private def refKeyCols(df: DataFrame, refs: Seq[String]): Seq[String] =
    // a PATH variable has no bare column — only its p$* family
    refs.filter(df.columns.contains) ++
      df.columns.filter(c => refs.exists(r => c.startsWith(r + "$")))

  /** Join-key columns for a ref set: the bare id column for entity/value
    * variables, the `p$*` family for path variables (which have no column
    * of their own). */
  private def joinRefCols(df: DataFrame, refs: Seq[String]): Seq[String] =
    refs.flatMap { r =>
      if (df.columns.contains(r)) Seq(r)
      else df.columns.filter(_.startsWith(r + "$")).toSeq
    }

  /** Encounter order for a subquery splice (reference: the subquery runs
    * once per outer row, its rows appended in outer order): combine the
    * outer frame's order (its existing hidden __rowseq, else the
    * partition-ordered id) with the inner frame's own partition order into
    * a lexicographically-ordered struct — planProjection sorts the final
    * RETURN by it and aggregation accumulates in it. Costs no extra job;
    * the one global sort happens only at a RETURN that still carries it. */
  private def orderedSplice(cur: DataFrame, inner: DataFrame,
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val curSeq =
      if (cur.columns.contains("__rowseq")) col("__rowseq")
      else monotonically_increasing_id()
    val l = cur.withColumn("__callseq", curSeq).drop("__rowseq")
    val r = inner.withColumn("__subseq", monotonically_increasing_id())
    join(l, r).withColumn("__rowseq",
      struct(col("__callseq"), col("__subseq")))
      .drop("__callseq", "__subseq")
  }

  /** Join on correlation keys with NULL-SAFE equality (`<=>`): the keys
    * thread the OUTER row's values through a decorrelated sub-plan, so a
    * null-valued key must match itself coming back (the reference's Apply
    * evaluates per-row — there is no join to miss). Using-column joins are
    * null-unsafe, hence the explicit condition; EqualNullSafe still hash-
    * joins (and broadcasts), so the plan shape is unchanged. */
  private def nullSafeJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], joinType: String): DataFrame = {
    if (keys.isEmpty) return left.join(right, lit(true), joinType)
    var rdf = right
    val tmp = keys.map(k => k -> ("__nsj_" + k)).toMap
    keys.foreach(k => rdf = rdf.withColumnRenamed(k, tmp(k)))
    val cond = keys.map(k => left(k) <=> rdf(tmp(k))).reduce(_ && _)
    val j = left.join(rdf, cond, joinType)
    if (joinType == "left_semi" || joinType == "left_anti") j
    else j.drop(tmp.values.toSeq: _*)
  }

  /** Variables referenced by a pattern: its own bindings plus anything the
    * inline node WHEREs read (for decorrelation key computation — callers
    * filter by env.has, so new bindings drop out). */
  /** Pattern expressions in VALUE position (a projection item, a size()
    * argument, a list element, a CASE branch) denote the LIST OF PATHS
    * they match (reference ReplacePatternExpressionWithCollectSubquery) —
    * unlike boolean positions (WHERE, WHEN conditions), where they stay
    * existence predicates. A pattern EXPRESSION may not introduce new
    * NAMED variables (reference error contract: UndefinedVariable). */
  private def patternValuePositions(ctx: Ctx, env: Env, e: Expr): Expr = {
    def toPaths(pe: PatternExists): Expr = {
      val declared = ((pe.pattern.first +: pe.pattern.hops.map(_._2))
        .flatMap(_.variable) ++ pe.pattern.hops.flatMap(_._1.variable))
      val fresh = declared.filterNot(env.has)
      require(fresh.isEmpty,
        "PatternExpressions are not allowed to introduce new variables: " +
          fresh.mkString(", "))
      val pv = ctx.fresh("pe")
      PatternComprehension(pe.pattern.copy(name = Some(pv)), pe.where,
        Variable(pv))
    }
    def walk(x: Expr): Expr = x match {
      case pe @ PatternExists(_, _, false, true) => toPaths(pe)
      case Func(n, args, d) if n.equalsIgnoreCase("size") =>
        Func(n, args.map(walk), d)
      case ListLit(xs) => ListLit(xs.map(walk))
      case CaseExpr(s, ws, dflt) =>
        CaseExpr(s, ws.map { case (w, t) => (w, walk(t)) }, dflt.map(walk))
      case other => other
    }
    walk(e)
  }

  private def patternVars(p: PathPattern): Set[String] =
    ((p.first +: p.hops.map(_._2)).flatMap(_.variable) ++
      p.hops.map(_._1).flatMap(_.variable)).toSet ++
      (p.first +: p.hops.map(_._2)).flatMap(_.where).flatMap(exprVars) ++
      p.hops.map(_._1).flatMap(_.where).flatMap(exprVars) ++
      // quantified groups: the group WHERE (incl. cross-iteration
      // references to outer singletons), head-node and branch-interior
      // variables and their inline WHEREs are part of the pattern too —
      // a decorrelated sub-plan must import the outer singletons they read
      p.hops.map(_._1).flatMap { r =>
        r.groupWhere.toSeq.flatMap(exprVars) ++
          r.headNode.toSeq.flatMap(hn =>
            hn.variable.toSeq ++ hn.where.toSeq.flatMap(exprVars)) ++
          r.branches.toSeq.flatten.flatten.flatMap { case (br, bn) =>
            br.variable.toSeq ++ bn.variable.toSeq ++
              br.where.toSeq.flatMap(exprVars) ++
              bn.where.toSeq.flatMap(exprVars)
          }
      }

  private def exprVars(e: Expr): Set[String] = e match {
    case Variable(v)          => Set(v)
    case Prop(s, _)           => exprVars(s)
    case Func(_, args, _)     => args.flatMap(exprVars).toSet
    case ListLit(xs)          => xs.flatMap(exprVars).toSet
    case MapLit(es)           => es.flatMap(kv => exprVars(kv._2)).toSet
    case BinOp(_, l, r)       => exprVars(l) ++ exprVars(r)
    case UnaryOp(_, o)        => exprVars(o)
    case IsNull(o, _)         => exprVars(o)
    case TypePredicate(o, _, _, _) => exprVars(o)
    case HasLabel(o, _)       => exprVars(o)
    case StringPred(_, l, r)  => exprVars(l) ++ exprVars(r)
    case CaseExpr(s, ws, d)   =>
      s.map(exprVars).getOrElse(Set.empty) ++
        ws.flatMap(w => exprVars(w._1) ++ exprVars(w._2)) ++
        d.map(exprVars).getOrElse(Set.empty)
    case Index(l, i)          => exprVars(l) ++ exprVars(i)
    case Slice(l, f, t)       =>
      exprVars(l) ++ f.map(exprVars).getOrElse(Set.empty) ++ t.map(exprVars).getOrElse(Set.empty)
    case PatternExists(p, w, _, _) => patternVars(p) ++ w.map(exprVars).getOrElse(Set.empty)
    case PatternCount(p, w)     => patternVars(p) ++ w.map(exprVars).getOrElse(Set.empty)
    case SubqueryExpr(_, q)     => subqueryScopeVars(q)
    case PatternComprehension(p, w, proj, ord, sk, li) =>
      patternVars(p) ++ w.map(exprVars).getOrElse(Set.empty) ++ exprVars(proj) ++
        ord.flatMap(s => exprVars(s.expr)) ++
        sk.map(exprVars).getOrElse(Set.empty) ++ li.map(exprVars).getOrElse(Set.empty)
    case MapProjection(sub, items) =>
      exprVars(sub) ++ items.flatMap {
        case Right((_, e)) => exprVars(e); case _ => Set.empty[String] }
    case ListComprehension(v, l, w, pr) =>
      (exprVars(l) ++ w.map(exprVars).getOrElse(Set.empty) ++
        pr.map(exprVars).getOrElse(Set.empty)) - v
    case IterPredicate(_, v, l, pr) => (exprVars(l) ++ exprVars(pr)) - v
    case Reduce(a, init, v, l, st)  =>
      exprVars(init) ++ exprVars(l) ++ (exprVars(st) - a - v)
    case _ => Set.empty
  }

  /** OPTIONAL MATCH: sub-plan the pattern starting from the distinct bound
    * variables it references, then left-outer join back (reference
    * logical Optional/Apply → here one decorrelated outer join). */
  private def planOptionalMatch(ctx: Ctx, env: Env, m: MatchClause): Env = {
    // a single unit row when nothing is bound yet (standalone OPTIONAL
    // MATCH): the always-true left-outer join below then yields the
    // matches, or one all-null row
    val df = env.df.getOrElse(unit(ctx.spark))
    // key on every bound variable the pattern OR its WHERE references, so
    // the sub-plan can evaluate predicates that mix inner and outer vars
    val whereVars = m.where.map(exprVars).getOrElse(Set.empty)
    val refs = (m.patterns.flatMap(patternVars).toSet ++
      m.shortest.flatMap(sp => patternVars(sp.pattern)) ++ whereVars)
      .filter(env.has).toSeq.sorted
    // disconnected OPTIONAL MATCH (no bound variable referenced — incl. a
    // standalone one at statement start): plan the pattern standalone and
    // preserve every outer row via an always-true left-outer join; zero
    // matches yield the all-null row Cypher requires
    val keyCols = if (refs.isEmpty) Nil else refKeyCols(df, refs)
    val base =
      if (refs.isEmpty) Env(None, Map.empty)
      else Env(Some(df.select(keyCols.map(col): _*).distinct()),
        env.binds.view.filterKeys(refs.contains).toMap)
    var sub = base
    val relVarsBefore = relVars(base)
    // same selection pushdown as planMatch — WHERE belongs to the optional
    // sub-plan, and within it each conjunct applies as early as possible
    val pending = new PendingWhere(m.where.map(splitConjuncts).getOrElse(Nil))
    m.patterns.foreach { p =>
      sub = planPath(ctx, sub, p, pending)
      sub = flushReadyWhere(ctx, sub, pending)
    }
    if (ctx.deferredGroupWhere.nonEmpty) {
      pending.conjs = pending.conjs ++ ctx.deferredGroupWhere.toList
      ctx.deferredGroupWhere.clear()
      sub = flushReadyWhere(ctx, sub, pending)
    }
    // OPTIONAL MATCH over a path selector (`OPTIONAL MATCH ANY SHORTEST …`)
    // — the selector plans inside the optional sub-plan like any pattern
    m.shortest.foreach { sp =>
      val sp2 = lowerSelectorWhere(ctx, sub.has, sp, pending)
      sub = planShortestOrFallback(ctx, sub, sp2, pending)
    }
    sub = applyUniqueness(ctx, sub, relVarsBefore)
    val rest = pending.conjs
    pending.conjs = Nil
    rest.foreach { pred => sub = applyWhere(ctx, sub, pred) }
    // join back on the variable ids only (null-unsafe using-join must not
    // key on nullable `v$prop` columns); drop the sub-plan's carried copies
    // of the outer property columns first — df already has them
    val joined =
      if (refs.isEmpty) df.join(sub.df.get, lit(true), "left_outer")
      else nullSafeJoin(df,
        sub.df.get.drop(keyCols.filterNot(refs.contains): _*),
        refs, "left_outer")
    Env(Some(joined), env.binds ++ sub.binds)
  }

  private def planPath(ctx: Ctx, env: Env, p0: PathPattern,
      pending: PendingWhere = new PendingWhere(Nil)): Env = {
    if (p0.name.isDefined) return planNamedPath(ctx, env, p0.name.get, p0)
    // anchor selection (the planner's join-order heuristic; Catalyst handles
    // the rest): start from a bound endpoint if only one end is bound, and
    // for doubly-unbound paths start from the SMALLER labeled end by
    // count-store cardinality (reference cost model input, CountsStore.java)
    val firstBound = p0.first.variable.exists(env.has)
    val lastBound = p0.hops.lastOption.exists(_._2.variable.exists(env.has))
    val reversible = p0.hops.forall(r => r._1.varLength.isEmpty && r._1.qppVars.isEmpty)
    val p =
      if (!firstBound && lastBound && reversible) reversePath(p0)
      else if (!firstBound && !lastBound && reversible && p0.hops.nonEmpty) {
        // end score = count-store cardinality × 0.1 per inline property
        // seek (reference PlannerDefaults.scala:36 default equality
        // selectivity) — an equality-seeked end beats a merely-labeled one
        def score(n: NodePattern): Double =
          (if (n.labels.isEmpty) Double.MaxValue
           else n.labels.map(x =>
             ctx.g.stats.labelCountMap.getOrElse(x, Long.MaxValue)).min.toDouble) *
            math.pow(0.1, n.props.size)
        val fl = p0.first.labels
        val ll = p0.hops.last._2.labels
        val flip = (fl, ll) match {
          case (Nil, l) if l.nonEmpty => true
          case (f, l) if f.nonEmpty && l.nonEmpty =>
            score(p0.hops.last._2) < score(p0.first)
          case _ => false
        }
        if (flip) reversePath(p0) else p0
      } else p0
    var (cur, fromVar) = bindNode(ctx, env, p.first)
    cur = flushReadyWhere(ctx, cur, pending)
    p.hops.foreach { case (rel, node) =>
      val (next, toVar) = expandHop(ctx, cur, fromVar, rel, node)
      cur = flushReadyWhere(ctx, next, pending)
      fromVar = toVar
    }
    cur
  }

  private def reversePath(p: PathPattern): PathPattern = {
    val nodes = (p.first +: p.hops.map(_._2)).reverse
    val rels = p.hops.map(_._1).reverse.map { r =>
      r.copy(dir = r.dir match { case Out => In; case In => Out; case Both => Both })
    }
    PathPattern(nodes.head, rels.zip(nodes.tail))
  }

  /** `p = (a)-[r]->(b)…` — plain named path (reference ProjectNamedPath /
    * front-end projectNamedPaths rewriter): plans the pattern left-to-right
    * with every element bound to a (possibly fresh) variable, then projects
    * the node-id sequence, rel-id sequence and hop count as `p$nodes` /
    * `p$rels` / `p$length`, the same columns shortestPath variables bind.
    * Var-length hops route through Trail (which carries the per-hop node
    * sequence); anchor reversal is skipped so the projected sequences match
    * the written pattern order. */
  private def planNamedPath(ctx: Ctx, env: Env, pv: String, p0: PathPattern): Env = {
    val first = if (p0.first.variable.isDefined) p0.first
      else p0.first.copy(variable = Some(ctx.fresh("n")))
    val hops = p0.hops.map { case (r, n) =>
      // quantified hops (bare `-[:R]->+`, one-hop QPP groups with group
      // variables, composite/alternation groups) all route through
      // expandHop's pathNodesAlias form below, which carries the node
      // sequence AND binds the group variables
      (if (r.variable.isDefined) r else r.copy(variable = Some(ctx.fresh("r"))),
        if (n.variable.isDefined) n else n.copy(variable = Some(ctx.fresh("n"))))
    }
    var (cur, fromVar) = bindNode(ctx, env, first)
    val firstVar = fromVar
    val relFrags = Seq.newBuilder[Column]
    val nodeFrags = Seq.newBuilder[Column]
    val dropCols = Seq.newBuilder[String]
    hops.foreach { case (rel, node) =>
      val relVar = rel.variable.get
      if (rel.varLength.isEmpty) {
        val (next, toVar) = expandHop(ctx, cur, fromVar, rel, node)
        cur = next
        relFrags += array(col(relVar))
        nodeFrags += array(col(toVar))
        fromVar = toVar
      } else {
        val nodesCol = ctx.fresh("pn")
        val (next, toVar) = expandHop(ctx, cur, fromVar, rel, node, Some(nodesCol))
        cur = next
        relFrags += col(relVar)
        nodeFrags += slice(col(nodesCol), lit(2),
          greatest(size(col(nodesCol)) - 1, lit(0)))
        dropCols += nodesCol
        fromVar = toVar
      }
    }
    val relsC = relFrags.result()
    val pvRels = if (relsC.isEmpty) array().cast("array<long>") else concat(relsC: _*)
    val pvNodes = concat((array(col(firstVar)) +: nodeFrags.result()): _*)
    val df = cur.df.get
      .withColumn(s"$pv$$rels", pvRels)
      .withColumn(s"$pv$$nodes", pvNodes)
      .withColumn(s"$pv$$length", size(col(s"$pv$$rels")))
      .drop(dropCols.result(): _*)
    Env(Some(df), cur.binds + (pv -> PathVar))
  }

  /** The traversal direction of a pattern relationship. */
  private def direction(r: RelPattern): Direction = r.dir match {
    case Out => Direction.Out; case In => Direction.In; case Both => Direction.Both
  }

  /** Per-step predicate of a var-length rel over the raw rel columns —
    * its inline property map and type expression; every traversed rel
    * must match (reference VarLengthExpand per-step relationship
    * predicate). */
  private def stepPredicate(ctx: Ctx, r: RelPattern): Option[Column] = {
    val propF =
      if (r.props.isEmpty) None
      else Some(r.props.map { case (k, e) =>
        if (ctx.g.rels.columns.contains(propCol(k))) col(propCol(k)) === constExpr(ctx, e)
        else lit(false)
      }.reduce(_ && _))
    (propF ++ r.typeExpr.map(typeExprFilter)).reduceOption(_ && _)
  }

  /** Per-step WHERE on a var-length relationship (Cypher 5
    * `[r:T* WHERE r.x > 1]`, reference VarLengthExpandPipe.scala:83-123
    * relationship predicate): the predicate runs once per traversed rel
    * and may only see that rel, so it compiles to a pre-traversal filter
    * over the RAW rels table — the BFS/Trail then walks the reduced edge
    * set (predicate evaluated |E| times total, not once per partial path).
    * Returns a filtered frame with g.rels' schema, or None when no WHERE. */
  private def stepFilteredRels(ctx: Ctx, rel: RelPattern): Option[DataFrame] =
    rel.where.map { w =>
      val relVar = rel.variable.getOrElse(ctx.fresh("r"))
      val refs = exprVars(w)
      require(refs.subsetOf(Set(relVar)),
        "WHERE inside a var-length relationship pattern may reference " +
          s"only the relationship variable itself (got: ${refs.mkString(", ")})")
      val rels = ctx.g.rels
      val raw = rels.columns.toSeq
      // hydrated view alongside the raw columns: r -> id, r$p -> p — the
      // main expression compiler then resolves r.p / type(r) / startNode(r)
      val hydrated = rels.select((raw.map(col) :+ col("id").as(relVar)) ++
        raw.filterNot(_ == "id").map(p =>
          col(p).as(s"$relVar$$${colProp(p)}")): _*)
      val env = Env(Some(hydrated), Map(relVar -> RelVar))
      hydrated.filter(compile(ctx, env, w)).select(raw.map(col): _*)
    }

  /** Bind a pattern node: scan (unbound) or constrain (bound). Returns the
    * environment plus the (possibly generated) variable name. */
  private def bindNode(ctx: Ctx, env: Env, np: NodePattern): (Env, String) = {
    val g = ctx.g
    np.variable match {
      case Some(v) if env.has(v) =>
        // a VALUE-typed variable in node position (dynamic typing:
        // `WITH head([n, 'x']) AS m MATCH (m)-->()`): a variant-encoded
        // value is its node id when rank = Node, else NULL (matches
        // nothing, like the reference's runtime type dispatch)
        val isVariant = env.binds(v) == ValueVar &&
          env.df.exists(d => d.columns.contains(v) &&
            graft.functions.Orderability.isEncoded(d.schema(v).dataType))
        if (isVariant) {
          val O = graft.functions.Orderability
          val idCol = when(col(v).getField("rank") === lit(O.RankNode),
            col(v).getField("s").cast("long"))
          val v2 = ctx.fresh(s"${v}_nid")
          val df0 = env.df.get.withColumn(v2, idCol)
            .join(ctx.g.nodes.select(col("id").as(v2)), Seq(v2), "left_semi")
          return (env.copy(df = Some(df0),
            binds = env.binds + (v2 -> NodeVar)), v2)
        }
        require(env.binds(v) == NodeVar, s"$v is not a node variable")
        var df = env.df.get
        if (np.labels.nonEmpty || np.labelExpr.nonEmpty || np.props.nonEmpty) {
          val filtered = nodeScan(ctx, np)
          df = df.join(filtered.select(col("id").as(v)), Seq(v), "left_semi")
        }
        np.where.foreach { w =>
          df = inlineWhere(ctx, env.copy(df = Some(df)), w)
        }
        (env.copy(df = Some(df)), v)
      case other =>
        val v = other.getOrElse(ctx.fresh("n"))
        val scan = hydrated(ctx, nodeScan(ctx, np), v, g.nodes.columns.toSet)
        var df = env.df match {
          case None      => scan
          case Some(cur) => cur.crossJoin(scan) // disconnected pattern part
        }
        val env2 = Env(Some(df), env.binds + (v -> NodeVar))
        np.where.foreach { w =>
          df = inlineWhere(ctx, env2.copy(df = Some(df)), w)
        }
        (env2.copy(df = Some(df)), v)
    }
  }

  /** Inline pattern WHERE — `(n WHERE …)` — with EXISTS{}/COUNT{}
    * subqueries lowered to flag joins first (the reference plans them as
    * nested plans wherever the predicate sits). */
  private def inlineWhere(ctx: Ctx, env: Env, w: Expr):
      org.apache.spark.sql.DataFrame =
    if (containsPatternExists(w)) {
      val (env2, rewritten, flags) = lowerExists(ctx, env, w)
      env2.df.get.filter(compile(ctx, env2, rewritten)).drop(flags: _*)
    } else env.df.get.filter(compile(ctx, env, w))

  /** nodes filtered by the pattern's labels + inline property map —
    * predicates sit directly on the scan so they push down to parquet. */
  /** Lambdas over path elements — `all(r IN relationships(p) WHERE
    * type(r) = …)`, `[x IN nodes(p) | labels(x)]` — need per-element
    * type/labels. Hydrate a parallel array (`p$reltypes` / `p$nodelabels`)
    * by exploding the DISTINCT paths, joining the rels/nodes table, and
    * re-collecting in position order: cost scales with distinct-path count
    * × path length, never with the outer row count. */
  /** Does this expression evaluate to a list of node/rel IDs? Entity-list
    * bindings propagate through projections (`WITH nodes(p) AS ns`,
    * `collect(n)`, identity comprehensions, reverse/tail/slice) so a later
    * `ns[0].k` / `[x IN ns | x.k]` can hydrate per-position property
    * arrays exactly like `nodes(p)[0].k` does. */
  private def entityListKind(env: Env, e: Expr): Option[Binding] = e match {
    case Func("nodes", Seq(Variable(pv)), _)
        if env.binds.get(pv).contains(PathVar) ||
          pathStructVar(env, pv) => Some(NodeListVar)
    case Func("relationships" | "rels", Seq(Variable(pv)), _)
        if env.binds.get(pv).contains(PathVar) ||
          pathStructVar(env, pv) => Some(RelListVar)
    case Variable(v) => env.binds.get(v).collect {
      case NodeListVar => NodeListVar
      case RelListVar  => RelListVar
    }
    case Func("reverse" | "tail", Seq(x), _) => entityListKind(env, x)
    case Slice(x, _, _)                      => entityListKind(env, x)
    case ListComprehension(v, l, _, proj)
        if proj.forall(_ == Variable(v))     => entityListKind(env, l)
    case Func("collect", Seq(Variable(v)), _) => env.binds.get(v).collect {
      case NodeVar => NodeListVar
      case RelVar  => RelListVar
    }
    case _ => None
  }

  private def pathElemNeeds(env: Env, e: Expr): Seq[(String, String)] = {
    def listKindOf(lv: String): Option[Boolean] = env.binds.get(lv) collect {
      case NodeListVar => false
      case RelListVar  => true
    } // Some(isRel)
    val out = Seq.newBuilder[(String, String)]
    def uses(body: Expr, v: String, fn: String): Boolean = body match {
      case Func(`fn`, Seq(Variable(`v`)), _) => true
      // `x:Label` / `rel:TYPE` predicates read the element's labels/type
      // (fn ":label" marks the label-expression form)
      case HasLabel(Variable(`v`), _) if fn == ":label" => true
      case HasLabel(o, _)     => uses(o, v, fn)
      case Func(_, args, _)   => args.exists(uses(_, v, fn))
      case BinOp(_, l, r)     => uses(l, v, fn) || uses(r, v, fn)
      case UnaryOp(_, o)      => uses(o, v, fn)
      case IsNull(o, _)       => uses(o, v, fn)
      case StringPred(_, l, r) => uses(l, v, fn) || uses(r, v, fn)
      case Index(l, i)        => uses(l, v, fn) || uses(i, v, fn)
      case Slice(l, f, t)     => uses(l, v, fn) ||
        f.exists(uses(_, v, fn)) || t.exists(uses(_, v, fn))
      case CaseExpr(s, ws, d) => s.exists(uses(_, v, fn)) ||
        ws.exists(w => uses(w._1, v, fn) || uses(w._2, v, fn)) ||
        d.exists(uses(_, v, fn))
      case ListLit(xs)        => xs.exists(uses(_, v, fn))
      case MapLit(es)         => es.exists(kv => uses(kv._2, v, fn))
      case _ => false
    }
    def propKeys(body: Expr, v: String): Seq[String] = body match {
      case Prop(Variable(`v`), k) => Seq(k)
      case Prop(sub, _)       => propKeys(sub, v)
      case Func(_, args, _)   => args.flatMap(propKeys(_, v))
      case BinOp(_, l, r)     => propKeys(l, v) ++ propKeys(r, v)
      case UnaryOp(_, o)      => propKeys(o, v)
      case IsNull(o, _)       => propKeys(o, v)
      case StringPred(_, l, r) => propKeys(l, v) ++ propKeys(r, v)
      case Index(l, i)        => propKeys(l, v) ++ propKeys(i, v)
      case Slice(l, f, t)     => propKeys(l, v) ++
        f.toSeq.flatMap(propKeys(_, v)) ++ t.toSeq.flatMap(propKeys(_, v))
      case CaseExpr(sj, ws, d) => sj.toSeq.flatMap(propKeys(_, v)) ++
        ws.flatMap(w => propKeys(w._1, v) ++ propKeys(w._2, v)) ++
        d.toSeq.flatMap(propKeys(_, v))
      case ListLit(xs)        => xs.flatMap(propKeys(_, v))
      case MapLit(es)         => es.flatMap(kv => propKeys(kv._2, v))
      case _ => Nil
    }
    def lam(v: String, list: Expr, bodies: Seq[Expr]): Unit = list match {
      case Func("relationships" | "rels", Seq(Variable(pv)), _) =>
        if (bodies.exists(b => uses(b, v, "type") || uses(b, v, ":label")))
          out += ((pv, "reltypes"))
        bodies.flatMap(propKeys(_, v)).distinct.foreach(k =>
          out += ((pv, "relprop:" + k)))
      case Func("nodes", Seq(Variable(pv)), _) =>
        if (bodies.exists(b => uses(b, v, "labels") || uses(b, v, ":label")))
          out += ((pv, "nodelabels"))
        bodies.flatMap(propKeys(_, v)).distinct.foreach(k =>
          out += ((pv, "nodeprop:" + k)))
      // an entity-list VARIABLE (`WITH nodes(p) AS ns … [x IN ns | x.k]`):
      // the list column itself is the id source ("L"-prefixed kinds)
      case Variable(lv) if listKindOf(lv).isDefined =>
        val isRel = listKindOf(lv).get
        if (isRel) {
          if (bodies.exists(b => uses(b, v, "type") || uses(b, v, ":label")))
            out += ((lv, "Lreltypes"))
          bodies.flatMap(propKeys(_, v)).distinct.foreach(k =>
            out += ((lv, "Lrelprop:" + k)))
        } else {
          if (bodies.exists(b => uses(b, v, "labels") || uses(b, v, ":label")))
            out += ((lv, "Lnodelabels"))
          bodies.flatMap(propKeys(_, v)).distinct.foreach(k =>
            out += ((lv, "Lnodeprop:" + k)))
        }
      // reverse/tail/slice keep element identity — hydrate the inner source
      case Func("reverse" | "tail", Seq(inner), _) => lam(v, inner, bodies)
      case Slice(inner, _, _)                      => lam(v, inner, bodies)
      case _ => ()
    }
    def walk(x: Expr): Unit = x match {
      // nodes(p)[i].k / relationships(p)[i].k outside lambdas hydrate the
      // same per-position property array
      case Prop(Index(Func("nodes", Seq(Variable(pv)), _), i), k) =>
        out += ((pv, "nodeprop:" + k)); walk(i)
      case Prop(Index(Func("relationships" | "rels",
          Seq(Variable(pv)), _), i), k) =>
        out += ((pv, "relprop:" + k)); walk(i)
      case Prop(Func("head" | "last",
          Seq(Func("nodes", Seq(Variable(pv)), _)), _), k) =>
        out += ((pv, "nodeprop:" + k))
      case Prop(Func("head" | "last",
          Seq(Func("relationships" | "rels", Seq(Variable(pv)), _)), _), k) =>
        out += ((pv, "relprop:" + k))
      // head(reverse(x)).k ≡ last(x).k (and vice versa)
      case Prop(Func(hl @ ("head" | "last"),
          Seq(Func("reverse", Seq(inner), _)), _), k) =>
        walk(Prop(Func(if (hl == "head") "last" else "head", Seq(inner)), k))
      // entity-list variable element access: ns[i].k, head/last(ns).k
      case Prop(Index(Variable(lv), i), k) if listKindOf(lv).isDefined =>
        out += ((lv, (if (listKindOf(lv).get) "Lrelprop:" else "Lnodeprop:") + k))
        walk(i)
      // type(rs[0]) / labels(ns[i]) on an entity-list variable
      case Func("type", Seq(Index(Variable(lv), i)), _)
          if listKindOf(lv).contains(true) =>
        out += ((lv, "Lreltypes")); walk(i)
      case Func("labels", Seq(Index(Variable(lv), i)), _)
          if listKindOf(lv).contains(false) =>
        out += ((lv, "Lnodelabels")); walk(i)
      case Prop(Func("head" | "last", Seq(Variable(lv)), _), k)
          if listKindOf(lv).isDefined =>
        out += ((lv, (if (listKindOf(lv).get) "Lrelprop:" else "Lnodeprop:") + k))
      // last(nodes(p)):Label / nodes(p)[i]:Label outside lambdas hydrate
      // the same per-position labels/types parallel arrays
      case HasLabel(Func("head" | "last",
          Seq(Func("nodes", Seq(Variable(pv)), _)), _), _)
          if env.binds.get(pv).contains(PathVar) =>
        out += ((pv, "nodelabels"))
      case HasLabel(Index(Func("nodes", Seq(Variable(pv)), _), i), _)
          if env.binds.get(pv).contains(PathVar) =>
        out += ((pv, "nodelabels")); walk(i)
      case HasLabel(Func("head" | "last",
          Seq(Func("relationships" | "rels", Seq(Variable(pv)), _)), _), _)
          if env.binds.get(pv).contains(PathVar) =>
        out += ((pv, "reltypes"))
      case HasLabel(Index(Func("relationships" | "rels",
          Seq(Variable(pv)), _), i), _)
          if env.binds.get(pv).contains(PathVar) =>
        out += ((pv, "reltypes")); walk(i)
      case HasLabel(o, _) => walk(o)
      case IterPredicate(_, v, l, pr) => lam(v, l, Seq(pr)); walk(l); walk(pr)
      case ListComprehension(v, l, w, pr) =>
        lam(v, l, w.toSeq ++ pr.toSeq); walk(l); w.foreach(walk); pr.foreach(walk)
      case Reduce(_, init, v, l, st) =>
        lam(v, l, Seq(st)); walk(init); walk(l); walk(st)
      case Func(_, args, _)   => args.foreach(walk)
      case BinOp(_, l, r)     => walk(l); walk(r)
      case UnaryOp(_, o)      => walk(o)
      case IsNull(o, _)       => walk(o)
      case StringPred(_, l, r) => walk(l); walk(r)
      case Index(l, i)        => walk(l); walk(i)
      case Slice(l, f, t)     => walk(l); f.foreach(walk); t.foreach(walk)
      case CaseExpr(s, ws, d) =>
        s.foreach(walk); ws.foreach { w => walk(w._1); walk(w._2) }; d.foreach(walk)
      case ListLit(xs)        => xs.foreach(walk)
      case MapLit(es)         => es.foreach(kv => walk(kv._2))
      case _ => ()
    }
    walk(e)
    out.result()
  }

  private def enrichPathElems(ctx: Ctx, env: Env, exprs: Seq[Expr]): Env = {
    val needs = exprs.flatMap(pathElemNeeds(env, _)).distinct
    if (needs.isEmpty || env.df.isEmpty) return env
    var df = env.df.get
    needs.foreach { case (pv, kind0) =>
      // "L"-prefixed kinds: pv IS the id-list column (an entity-list
      // variable), not a path variable with $nodes/$rels companions
      val direct = kind0.startsWith("L")
      val kind = if (direct) kind0.drop(1) else kind0
      val isRel = kind == "reltypes" || kind.startsWith("relprop:")
      val src = if (direct) pv else if (isRel) s"$pv$$rels" else s"$pv$$nodes"
      val enriched = kind match {
        case "reltypes"   => s"$pv$$reltypes"
        case "nodelabels" => s"$pv$$nodelabels"
        case k if k.startsWith("relprop:") =>
          s"$pv$$relprop_${k.stripPrefix("relprop:")}"
        case k => s"$pv$$nodeprop_${k.stripPrefix("nodeprop:")}"
      }
      if (df.columns.contains(src) && !df.columns.contains(enriched)) {
        def propVal(table: DataFrame, key: String): Column =
          if (table.columns.contains(propCol(key))) col(propCol(key))
          else lit(null).cast("string") // absent property IS NULL
        val lookup = kind match {
          case "reltypes" =>
            ctx.g.rels.select(col("id").as("__eid"), col("type").as("__val"))
          case "nodelabels" =>
            ctx.g.nodes.select(col("id").as("__eid"), col("labels").as("__val"))
          case k if k.startsWith("relprop:") =>
            ctx.g.rels.select(col("id").as("__eid"),
              propVal(ctx.g.rels, k.stripPrefix("relprop:")).as("__val"))
          case k =>
            ctx.g.nodes.select(col("id").as("__eid"),
              propVal(ctx.g.nodes, k.stripPrefix("nodeprop:")).as("__val"))
        }
        val uniq = df.select(col(src).as("__pe")).distinct()
        val pos = uniq.select(col("__pe"),
          posexplode(col("__pe")).as(Seq("__pos", "__eid")))
        val agg = pos.join(lookup, Seq("__eid"))
          .groupBy("__pe")
          .agg(transform(array_sort(collect_list(struct(col("__pos"), col("__val")))),
            x => x.getField("__val")).as(enriched))
        val joined = df.join(agg, col(src) === col("__pe"), "left_outer").drop("__pe")
        val listType = joined.schema(enriched).dataType
        df = joined.withColumn(enriched,
          coalesce(col(enriched), array().cast(listType)))
      }
    }
    env.copy(df = Some(df))
  }

  /** Quantified group with a composite body — multi-hop chains or
    * alternation branches (`(()-->(:A)-->(:B)){1,3}`,
    * `(-[:X]->()|-[:Y]->()){1,2}`) — in a PLAIN MATCH: the branch chains
    * compile to whole-chain composite edges (branchEdges — interior node
    * labels/props/WHERE become per-hop boundary sets) and the quantifier
    * unrolls over composite steps under rel-uniqueness, exactly the
    * [[graft.ops.Trail]] skeleton with array-valued steps. Binds the far
    * node; the group's rel variable (if any) binds to the rel-id array. */
  private def expandComposite(ctx: Ctx, env: Env, fromVar: String,
      rel: RelPattern, node: NodePattern,
      pathNodesAlias: Option[String]): (Env, String) = {
    val (min, maxOpt) = rel.varLength.getOrElse((1, Some(1)))
    // an UNBOUNDED group (`(()-->(:A)-->(:B))*`) iterates until the
    // frontier exhausts: rel-uniqueness consumes at least one distinct rel
    // per traversal, so the loop terminates within |rels| levels — each
    // level is checkpointed and probed (one small job per level, the
    // frontier-BFS pattern)
    val unbounded = maxOpt.isEmpty
    val max = maxOpt.getOrElse(Int.MaxValue)
    // split the group WHERE: conjuncts over the group's OWN variables
    // filter the composite edge set up-front (branchEdges); conjuncts that
    // reference non-local singletons (GQL cross-iteration references,
    // reference QuantifiedPathPatternAcceptance "References to non-local
    // unconditional singletons") defer to a per-iteration post-filter —
    // `all(x IN a WHERE pred)` over the group arrays — once the whole
    // graph pattern has bound them
    val localGroupVars: Set[String] =
      (rel.headNode.flatMap(_.variable).toSeq ++
        rel.branches.get.flatMap(_.flatMap(h =>
          h._1.variable.toSeq ++ h._2.variable.toSeq))).toSet
    val (localGw, crossGw) = rel.groupWhere.map(splitConjuncts)
      .getOrElse(Nil).partition(c => exprVars(c).subsetOf(localGroupVars))
    val comp0 = rel.branches.get.map(branchEdges(ctx, _,
        rel.headNode.flatMap(_.variable),
        localGw.reduceOption(BinOp("AND", _, _))))
      .reduce(_ unionByName _)
    // inner GROUP variables of a single-branch fixed chain
    // (`((a)-[r]->(b)-[s]->(c))+ … RETURN a, r, b`): each bind to the
    // per-iteration array of its slot. (var, hopIdx, isRel); the leading
    // node's variable binds to the iteration-start array. A variable
    // repeated at several positions is an intra-iteration equijoin.
    val singleFixedChain = rel.branches.get match {
      case Seq(chain) if chain.forall(_._1.varLength.isEmpty) => Some(chain)
      case _ => None
    }
    val headVar = rel.headNode.flatMap(_.variable)
      .filterNot(v => env.has(v))
    val innerSlots: Seq[(String, Int, Boolean)] = singleFixedChain match {
      case None => Nil
      case Some(chain) => chain.zipWithIndex.flatMap { case ((r2, n2), i) =>
        r2.variable.filterNot(env.has).map((_, i, true)).toSeq ++
          n2.variable.filterNot(env.has).map((_, i, false)).toSeq
      }
    }
    // intra-iteration variable reuse: equality filters on the composite rows
    def slotCol(idx: Int, isRel: Boolean): Column =
      if (isRel) element_at(col("__ers"), idx + 1)
      else element_at(col("__ens"), idx + 1)
    val eqFilters: Seq[Column] = {
      val positions = (headVar.map(v => v -> (col("__es"): Column)).toSeq ++
        innerSlots.map { case (v, i, isRel) => v -> slotCol(i, isRel) })
      positions.groupBy(_._1).values.flatMap { occ =>
        occ.tail.map(o => occ.head._2 === o._2)
      }.toSeq
    }
    // constrained LEADING node: every traversal's start must satisfy it
    val comp1 = rel.headNode.filter(hn => hn.labels.nonEmpty ||
        hn.labelExpr.nonEmpty || hn.props.nonEmpty || hn.where.nonEmpty)
      .flatMap(hn => boundarySet(ctx, hn)).fold(comp0)(
        b => comp0.join(b.withColumnRenamed("id", "__es"), Seq("__es"),
          "left_semi"))
    val comp = eqFilters.foldLeft(comp1)(_ filter _).localCheckpoint(false)
    // first-occurrence slot per group variable (binds below)
    val groupBindSlots: Seq[(String, Option[(Int, Boolean)])] =
      (headVar.map(_ -> None).toSeq ++
        innerSlots.map { case (v, i, isRel) => v -> Some((i, isRel)) })
        .foldLeft(Seq.empty[(String, Option[(Int, Boolean)])]) { (acc, e) =>
          if (acc.exists(_._1 == e._1)) acc else acc :+ e
        }
    val toBound = node.variable.exists(env.has)
    val toVar = node.variable.getOrElse(ctx.fresh("n"))
    val relVar = rel.variable.getOrElse(ctx.fresh("r"))
    val nodesCol = ctx.fresh("cn")
    var level = env.df.getOrElse(unit(ctx.spark))
      .withColumn("__cto", col(fromVar))
      .withColumn(relVar, array().cast("array<long>"))
      .withColumn(nodesCol, array(col(fromVar)))
    groupBindSlots.foreach { case (v, _) =>
      level = level.withColumn(v, array().cast("array<long>"))
    }
    val outs = Seq.newBuilder[DataFrame]
    outs += level.filter(lit(false))
    if (min == 0) outs += level
    var k = 1
    var exhausted = false
    while (k <= max && !exhausted) {
      var next = level
        .join(comp, col("__cto") === col("__es") &&
          !arrays_overlap(col(relVar), col("__ers")))
      groupBindSlots.foreach { case (v, slot) =>
        val elem = slot match {
          case None                => col("__cto") // iteration start
          case Some((idx, isRel))  => slotCol(idx, isRel)
        }
        next = next.withColumn(v, concat(col(v), array(elem)))
      }
      level = next
        .withColumn(relVar, concat(col(relVar), col("__ers")))
        .withColumn(nodesCol, concat(col(nodesCol), col("__ens")))
        .withColumn("__cto", col("__ed"))
        .drop("__es", "__ed", "__ers", "__ens", "__elen")
      if (unbounded) {
        level = level.freshCkpt()
        exhausted = level.isEmpty
      }
      if (!exhausted && k >= min) outs += level
      k += 1
    }
    var expanded = outs.result().reduce(_ unionByName _)
    expanded = pathNodesAlias match {
      case Some(a) => expanded.withColumnRenamed(nodesCol, a)
      case None    => expanded.drop(nodesCol)
    }
    ctx.relUniqExempt ++= groupBindSlots.collect {
      case (v, Some((_, true))) => v } // slices of relVar, not new rels
    var out = Env(Some(expanded), env.binds + (relVar -> RelListVar) ++
      groupBindSlots.map { case (v, slot) =>
        v -> (if (slot.exists(_._2)) RelListVar else NodeListVar: Binding) })
    if (toBound) {
      require(env.binds(node.variable.get) == NodeVar,
        s"${node.variable.get} is not a node variable")
      out = out.copy(df = Some(out.df.get
        .filter(col("__cto") === col(toVar)).drop("__cto")))
    } else {
      var df2 = out.df.get.withColumnRenamed("__cto", toVar)
      out = out.copy(binds = out.binds + (toVar -> NodeVar))
      if (node.labels.nonEmpty || node.labelExpr.nonEmpty ||
          node.props.nonEmpty ||
          ctx.needed.getOrElse(toVar, Set.empty).nonEmpty) {
        val scan = hydrated(ctx, nodeScan(ctx, node), toVar,
          ctx.g.nodes.columns.toSet)
        df2 = df2.join(scan, Seq(toVar))
      }
      out = out.copy(df = Some(df2))
      node.where.foreach { w =>
        out = out.copy(df = Some(inlineWhere(ctx, out, w)))
      }
    }
    // cross-iteration group WHERE conjuncts: rewrite each into an
    // index-aligned per-iteration predicate over the group arrays —
    // `all(__qi IN range(0, size(gv)-1) WHERE pred[gv := gv[__qi]])` —
    // and defer to the clause's pending WHERE (the referenced singleton
    // may bind LATER in the graph pattern). Zero iterations (a `*` match)
    // satisfy vacuously, like the reference.
    crossGw.foreach { conjunct =>
      require(!containsPatternExists(conjunct),
        "a cross-iteration quantified-group WHERE cannot contain pattern " +
          "or subquery expressions")
      val gvs = (exprVars(conjunct) & localGroupVars).toSeq.sorted
      require(gvs.nonEmpty && gvs.forall(v =>
          groupBindSlots.exists(_._1 == v) || headVar.contains(v)),
        "a cross-iteration group WHERE may reference only bound group " +
          "variables and outer singletons")
      val qi = ctx.fresh("qi")
      // shadow tracks lambda variables (all/any/reduce/list-comprehension
      // binders) that hide a same-named group variable inside their body
      def subst(e: Expr, shadow: Set[String] = Set.empty): Expr = e match {
        case Variable(v) if gvs.contains(v) && !shadow(v) =>
          Index(Variable(v), Variable(qi))
        case Prop(s, k)        => Prop(subst(s, shadow), k)
        case Func(n, as, d)    => Func(n, as.map(subst(_, shadow)), d)
        case BinOp(op, a, b)   => BinOp(op, subst(a, shadow), subst(b, shadow))
        case UnaryOp(op, o)    => UnaryOp(op, subst(o, shadow))
        case IsNull(o, n)      => IsNull(subst(o, shadow), n)
        case StringPred(op, a, b) =>
          StringPred(op, subst(a, shadow), subst(b, shadow))
        case TypePredicate(o, t, nn, neg) =>
          TypePredicate(subst(o, shadow), t, nn, neg)
        case HasLabel(s, d)    => HasLabel(subst(s, shadow), d)
        case ListLit(xs)       => ListLit(xs.map(subst(_, shadow)))
        case MapLit(es)        =>
          MapLit(es.map { case (k, x) => (k, subst(x, shadow)) })
        case Index(a, i)       => Index(subst(a, shadow), subst(i, shadow))
        case Slice(a, f, t)    =>
          Slice(subst(a, shadow), f.map(subst(_, shadow)), t.map(subst(_, shadow)))
        case CaseExpr(s, ws, d) => CaseExpr(s.map(subst(_, shadow)),
          ws.map { case (a, b) => (subst(a, shadow), subst(b, shadow)) },
          d.map(subst(_, shadow)))
        case IterPredicate(k2, v2, l2, p2) =>
          IterPredicate(k2, v2, subst(l2, shadow), subst(p2, shadow + v2))
        case Reduce(acc, init, v2, l2, step) =>
          Reduce(acc, subst(init, shadow), v2, subst(l2, shadow),
            subst(step, shadow + v2 + acc))
        case ListComprehension(v2, l2, w2, pr2) =>
          ListComprehension(v2, subst(l2, shadow),
            w2.map(subst(_, shadow + v2)), pr2.map(subst(_, shadow + v2)))
        case MapProjection(s, items) =>
          MapProjection(subst(s, shadow), items.map {
            case Right((k, x)) => Right((k, subst(x, shadow)))
            case left          => left
          })
        case other =>
          // unlisted constructors must not smuggle raw group-var reads
          require(((exprVars(other) -- shadow) & gvs.toSet).isEmpty,
            "a cross-iteration group WHERE conjunct contains an expression " +
              s"shape that cannot reference group variables: $other")
          other
      }
      ctx.deferredGroupWhere += IterPredicate("all", qi,
        Func("range", Seq(Lit(0L),
          BinOp("-", Func("size", Seq(Variable(gvs.head))), Lit(1L)))),
        subst(conjunct))
    }
    (out, toVar)
  }

  /** ISO 8601 LocalDateTime spellings beyond Spark's parser: ordinal
    * dates (2015185T19:32:24 / 2015-185T19:32:24) and compact basic
    * format (20150704T193224). Returns None when no form matches (the
    * caller falls back to Spark's to_timestamp_ntz). */
  private def parseIsoLdt(s: String): Option[java.time.LocalDateTime] = {
    import java.time.format.DateTimeFormatter
    val fmts = Seq(DateTimeFormatter.ISO_LOCAL_DATE_TIME,
      DateTimeFormatter.ofPattern("yyyyDDD'T'HH:mm:ss"),
      DateTimeFormatter.ofPattern("yyyy-DDD'T'HH:mm:ss"),
      DateTimeFormatter.ofPattern("yyyyDDD'T'HHmmss"),
      DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss"),
      DateTimeFormatter.ofPattern("yyyyMMdd'T'HH:mm:ss"))
    fmts.view.flatMap { f =>
      scala.util.Try(java.time.LocalDateTime.parse(s, f)).toOption
    }.headOption
  }

  /** Give an anonymous shortest-path start node a fresh variable so the
    * unbound-start seed below has a name to bind. */
  private def namedStart(ctx: Ctx, p: PathPattern): PathPattern =
    if (p.first.variable.isDefined) p
    else p.copy(first = p.first.copy(variable = Some(ctx.fresh("n"))))

  /** Bind a shortest-path endpoint that isn't bound yet by its own node
    * scan (labels + inline props pushed to the parquet scan). A selective
    * seek yields few rows, so the cross join stays broadcast-sized; an
    * unfiltered endpoint is left unbound for the BFS branches to handle —
    * except under `force`, where it binds via a full AllNodesScan (the
    * reference plans SHORTEST from any leaf, FindShortestPaths
    * LogicalPlan.scala:2178; the search then runs multi-source). */
  private def bindEndpoint(ctx: Ctx, env: Env, np: NodePattern,
      force: Boolean = false): Env =
    np.variable match {
      // an inline WHERE binds too — both callers (planShortest/planShortestK)
      // re-apply the predicate via the boundary-set semi-join afterwards
      case Some(v) if !env.has(v) &&
          (force || np.labels.nonEmpty || np.labelExpr.nonEmpty ||
            np.props.nonEmpty || np.where.nonEmpty) =>
        val scan = hydrated(ctx, nodeScan(ctx, np), v, ctx.g.nodes.columns.toSet)
        val df = env.df match {
          case Some(cur) => cur.crossJoin(scan)
          case None      => scan
        }
        Env(Some(df), env.binds + (v -> NodeVar))
      case _ => env
    }

  private def nodeScan(ctx: Ctx, np: NodePattern): DataFrame = {
    var scan = ctx.g.nodes
    np.labels.foreach { l => scan = scan.filter(array_contains(col("labels"), l)) }
    // label expression `:A|B&!C` — disjunction of conjunctions over
    // (possibly negated) membership tests; the surface form of the
    // Union/Intersection/SubtractionNodeByLabels scans (SURVEY §2.1 #3-5)
    np.labelExpr.foreach { dnf =>
      val pred = dnf.map { conj =>
        conj.map { a =>
          // `%` is the GQL any-label wildcard: node has at least one label
          val c =
            if (a.name == "%") size(col("labels")) > 0
            else array_contains(col("labels"), a.name)
          if (a.negated) !c else c
        }.reduce(_ && _)
      }.reduce(_ || _)
      scan = scan.filter(pred)
    }
    np.props.foreach { case (k, e) =>
      // property absent from the schema: Cypher `{k: v}` on a missing
      // property matches nothing (NULL = v is never true)
      scan = if (scan.columns.contains(propCol(k)))
        scan.filter(inlinePropEq(ctx, scan, propCol(k), e))
      else scan.filter(lit(false))
    }
    scan
  }

  /** Inline property-map equality: native `=` (pushdown-friendly) when the
    * stored and literal categories agree; ternary CypherCompare when they
    * differ — `{prop: false}` against a stored LIST property is FALSE in
    * the reference, never a type error. */
  private def inlinePropEq(ctx: Ctx, scan: DataFrame, colName: String,
      e: Expr): Column = {
    import org.apache.spark.sql.types._
    val v = constExpr(ctx, e)
    val stored = scan.schema(colName).dataType
    val litT = scala.util.Try(scan.select(v).schema.head.dataType).toOption
    def cat(dt: DataType): Int = dt match {
      case _: NumericType => 1; case StringType => 2; case BooleanType => 3
      case _: ArrayType => 4; case _: StructType | _: MapType => 5
      case other => other.hashCode
    }
    if (litT.forall(t => cat(t) == cat(stored)) &&
        !stored.isInstanceOf[ArrayType] && !stored.isInstanceOf[StructType] &&
        !stored.isInstanceOf[MapType])
      col(colName) === v
    else {
      graft.functions.expressions.CypherCompare.ensureRegistered(ctx.spark)
      call_function("cypher_compare", col(colName), v, lit("="))
    }
  }

  /** id column renamed to the variable + `v$prop` columns for every property
    * the query reads from v. */
  private def hydrated(ctx: Ctx, scan: DataFrame, v: String,
      available: Set[String]): DataFrame = {
    val needed = ctx.needed.getOrElse(v, Set.empty)
    val props =
      (if (needed("*")) (available - "id").map(colProp)
       else needed.filter(n => available(propCol(n)))).toSeq.sorted
    scan.select((col("id").as(v) +:
      props.map(p => col(propCol(p)).as(s"$v$$$p"))): _*)
  }

  /** One hop: single-rel equi-join (Expand All/Into semantics) or a
    * var-length expansion — pruning BFS when only endpoints are read,
    * otherwise Trail.trail. `pathNodesAlias` (named paths) keeps the
    * per-hop node sequence in the given column. */
  private def expandHop(ctx: Ctx, env: Env, fromVar: String, rel: RelPattern,
      node: NodePattern, pathNodesAlias: Option[String] = None): (Env, String) = {
    val g = ctx.g
    if (rel.branches.isDefined)
      return expandComposite(ctx, env, fromVar, rel, node, pathNodesAlias)
    // a relationship variable REPEATED across the graph pattern is an
    // implicit join (GQL singleton semantics, reference
    // GraphPatternAcceptance): expand under a fresh name, then equate
    if (rel.variable.exists(env.has) && rel.varLength.isEmpty) {
      val rv = rel.variable.get
      val tmp = ctx.fresh("rj")
      val (env2, toVar2) = expandHop(ctx, env,
        fromVar, rel.copy(variable = Some(tmp)), node, pathNodesAlias)
      return (env2.copy(df = env2.df.map(
          _.filter(col(tmp) === col(rv)).drop(tmp)),
        binds = env2.binds - tmp), toVar2)
    }
    val relVar = rel.variable.getOrElse(ctx.fresh("r"))
    val toBound = node.variable.exists(env.has)
    val toVar = node.variable.getOrElse(ctx.fresh("n"))

    val afterRel: Env = rel.varLength match {
      case None =>
        // oriented edge view with original src/dst retained for
        // startNode()/endNode() hydration
        var r = g.rels
        if (rel.types.nonEmpty) r =
          if (rel.types.size == 1) r.filter(col("type") === rel.types.head)
          else r.filter(col("type").isin(rel.types: _*))
        rel.typeExpr.foreach(d => r = r.filter(typeExprFilter(d)))
        rel.props.foreach { case (k, e) =>
          r = if (r.columns.contains(propCol(k)))
            r.filter(col(propCol(k)) === constExpr(ctx, e))
          else r.filter(lit(false))
        }
        val relNeeded0 = ctx.needed.getOrElse(relVar, Set.empty)
        val relNeeded = (
          if (relNeeded0("*"))
            // properties(r): every rel property column (structural cols
            // only when explicitly asked, e.g. by type()/startNode())
            (g.rels.columns.toSet -- Set("id", "src", "dst", "type")).map(colProp) ++
              relNeeded0.filter(n => g.rels.columns.toSet(propCol(n)))
          else relNeeded0.filter(n => g.rels.columns.toSet(propCol(n)))).toSeq.sorted
        def orient(from: Column, to: Column): DataFrame =
          r.select((col("id").as(relVar) +: from.as("__from") +: to.as("__to") +:
            relNeeded.map(p => col(propCol(p)).as(s"$relVar$$$p"))): _*)
        val edges0 = rel.dir match {
          case Out  => orient(col("src"), col("dst"))
          case In   => orient(col("dst"), col("src"))
          // a self-loop matches an undirected hop once
          case Both => orient(col("src"), col("dst"))
            .unionByName(orient(col("dst"), col("src"))
              .filter(col("__from") =!= col("__to")))
        }
        // MultiNodeIndexSeek shape (reference :multi-seek): an inline
        // property SEEK on the unbound far end prunes the rel relation
        // BEFORE the frontier join — left-to-right join order would
        // otherwise drag the full rel table through the first join (and
        // at scale broadcast/shuffle it unfiltered) only to discard
        // (1 - selectivity) of it at the far-node join one step later.
        // The semi-join is against the same nodeScan the far-node bind
        // reuses; equality-seek selectivity makes the pruned side the
        // small one (reference PlannerDefaults equality selectivity 0.1).
        val edges = if (!toBound && node.props.nonEmpty)
          edges0.join(nodeScan(ctx, node).select(col("id").as("__to")),
            Seq("__to"), "left_semi")
          else edges0
        var joined = env.df.get.join(edges, col(fromVar) === col("__from"))
          .drop("__from")
        // startNode(r).k / endNode(r).k marker keys: join the endpoint's
        // property in through the rel's ORIGINAL src/dst (hydrated above)
        def endpointProps(marker: String, idCol: String): Unit = {
          val props = relNeeded0.collect {
            case s if s.startsWith(marker) => s.stripPrefix(marker)
          }.filter(n => g.nodes.columns.toSet(propCol(n))).toSeq.sorted
          if (props.nonEmpty)
            joined = joined.join(
              g.nodes.select((col("id").as("__epid") +:
                props.map(p => col(propCol(p)).as(s"$relVar$$$marker$p"))): _*),
              col(s"$relVar$$$idCol") === col("__epid"), "left_outer")
              .drop("__epid")
        }
        endpointProps("__sn_", "src")
        endpointProps("__en_", "dst")
        Env(Some(joined), env.binds + (relVar -> RelVar))
      case Some((min, maxOpt)) =>
        // inline property map / WHERE on a var-length rel: EVERY traversed
        // rel must match → a pre-orientation edge filter (stepPredicate)
        // and pre-filtered raw rels (stepFilteredRels)
        val edgeFilter = stepPredicate(ctx, rel)
        val stepDf = stepFilteredRels(ctx, rel)
        val dir = direction(rel)
        if (pathNodesAlias.isEmpty && ctx.pruneRels.contains(rel)) {
          // endpoints-only: pruningVarExpander rewrite — frontier BFS keeps
          // |V|-bounded state; unbounded `*` iterates to an empty frontier
          val (edges, deduped) =
            if (rel.types.isEmpty && edgeFilter.isEmpty && stepDf.isEmpty)
              (g.orientedPairs(dir), true)
            else (g.orientTyped(rel.types, dir, edgeFilter, stepDf)
              .select("src", "dst"), false)
          val srcs = env.df.get.select(col(fromVar).as("source")).distinct()
          val reach = graft.ops.Bfs.pruningExpand(
            edges, srcs, min, maxOpt.getOrElse(Int.MaxValue), deduped)
          val joined = env.df.get.join(
            reach.select(col("source"), col("node").as("__to")),
            col(fromVar) === col("source")).drop("source")
          // no rel/group bindings: eligibility means nothing reads them
          Env(Some(joined), env.binds)
        } else {
          // path enumeration (Trail): the node sequence is carried only
          // when a named path or QPP group variables read it; unbounded `*`
          // iterates to an empty frontier (rel-uniqueness terminates, like
          // the reference's VarLengthExpand)
          val nodesCol = pathNodesAlias.orElse(rel.qppVars.map(_ => ctx.fresh("qn")))
          val hopsCol = ctx.fresh("depth")
          var out = graft.ops.Trail.trail(
              g.orientTyped(rel.types, dir, edgeFilter, stepDf), env.df.get,
              fromVar, min, maxOpt, endAlias = "__to", relsAlias = relVar,
              nodesAlias = nodesCol, hopsAlias = hopsCol)
            .drop(hopsCol)
          var binds = env.binds + (relVar -> RelListVar)
          // quantified path pattern group variables (also under a named
          // path, reference ProjectNamedPath over Trail): x group = all
          // but the last trail node, y group = all but the first
          rel.qppVars.foreach { case (xVar, _, yVar) =>
            val nc = col(nodesCol.get)
            Seq(xVar -> 1, yVar -> 2).foreach { case (v, from) =>
              v.foreach { name =>
                out = out.withColumn(name,
                  slice(nc, lit(from), greatest(size(nc) - 1, lit(0))))
                binds += (name -> NodeListVar)
              }
            }
          }
          if (pathNodesAlias.isEmpty) nodesCol.foreach(c => out = out.drop(c))
          Env(Some(out), binds)
        }
    }

    val df = afterRel.df.get
    if (toBound) {
      require(env.binds(node.variable.get) == NodeVar,
        s"${node.variable.get} is not a node variable")
      var out = df.filter(col("__to") === col(toVar)).drop("__to")
      if (node.labels.nonEmpty || node.labelExpr.nonEmpty || node.props.nonEmpty) {
        val filtered = nodeScan(ctx, node)
        out = out.join(filtered.select(col("id").as(toVar)), Seq(toVar), "left_semi")
      }
      // var-length rel WHERE was consumed as a per-step pre-filter;
      // EXISTS{}/COUNT{} inside the inline WHERE lower to flag joins
      (node.where ++ rel.where.filter(_ => rel.varLength.isEmpty)).foreach { w =>
        out = inlineWhere(ctx, afterRel.copy(df = Some(out)), w)
      }
      (afterRel.copy(df = Some(out)), toVar)
    } else {
      val renamed = df.withColumnRenamed("__to", toVar)
      val needsJoin = node.labels.nonEmpty || node.labelExpr.nonEmpty || node.props.nonEmpty ||
        ctx.needed.getOrElse(toVar, Set.empty).nonEmpty
      var out =
        if (!needsJoin) renamed
        else {
          val scan = hydrated(ctx, nodeScan(ctx, node), toVar, ctx.g.nodes.columns.toSet)
          renamed.join(scan, Seq(toVar))
        }
      val env2 = Env(Some(out), afterRel.binds + (toVar -> NodeVar))
      // var-length rel WHERE was consumed as a per-step pre-filter;
      // EXISTS{}/COUNT{} inside the inline WHERE lower to flag joins
      (node.where ++ rel.where.filter(_ => rel.varLength.isEmpty)).foreach { w =>
        out = inlineWhere(ctx, env2.copy(df = Some(out)), w)
      }
      (env2.copy(df = Some(out)), toVar)
    }
  }

  /** CALL proc(args) [YIELD cols]: procedure result (a DataFrame plan)
    * joins the current rows — cross join, since procedure args are
    * literals/parameters (correlated CALL is not supported). */
  /** LOAD CSV (reference LoadCSVPipe): every field arrives as a STRING;
    * with headers the row binds as a header-keyed struct (row.name reads
    * a field), without as a STRING list. */
  private def planLoadCsv(ctx: Ctx, env: Env, lc: LoadCsvClause): Env = {
    val url = lc.url match {
      case Lit(s: String) => s
      case Param(p) => ctx.params.getOrElse(p, throw new IllegalArgumentException(
        s"missing parameter $$$p")).toString
      case other => throw new IllegalArgumentException(
        s"LOAD CSV URL must be a literal or parameter, got $other")
    }
    val path =
      if (url.startsWith("file:"))
        java.nio.file.Paths.get(java.net.URI.create(url)).toString
      else url
    val raw = graft.sources.LoadCsv.load(ctx.spark, path, lc.withHeaders,
      lc.sep.getOrElse(","))
    val dataCols = raw.columns.filterNot(Set("linenumber", "file"))
    val bound =
      if (lc.withHeaders) raw.select(struct(dataCols.map(col): _*).as(lc.alias))
      else raw.select(array(dataCols.map(col): _*).as(lc.alias))
    val df = env.df match {
      case None      => bound
      case Some(cur) => cur.crossJoin(bound)
    }
    Env(Some(df), env.binds + (lc.alias -> ValueVar))
  }

  private def planCall(ctx: Ctx, env: Env, cc: CallClause,
      inQuery: Boolean = false, isLast: Boolean = false): Env = {
    def const(e: Expr): Any = e match {
      case Lit(v)        => v
      case Param(n)      => ctx.params(n)
      case ListLit(xs)   => xs.map(const)
      case UnaryOp("-", Lit(v: Long))   => -v
      case UnaryOp("-", Lit(v: Double)) => -v
      case other => throw new IllegalArgumentException(
        s"CALL arguments must be literals or parameters, got $other")
    }
    // SCHEMA/WRITE-mode procedures return an updated snapshot that threads
    // into later clauses (and out through Cypher.execute); plain read
    // procedures return a lazy plan
    val result0 = graft.functions.Procedures.graphProc(cc.procedure) match {
      case Some(gp) =>
        val (g2, df) = gp(ctx.spark, ctx.g, cc.args.map(const))
        ctx.g = g2
        df
      case None => graft.functions.Procedures.call(
        ctx.spark, ctx.g, cc.procedure, cc.args.map(const): _*)
    }
    // reference error contract for IN-QUERY procedure calls (standalone
    // CALL is exempt): a non-void procedure must name its results with
    // YIELD, and CALL … YIELD cannot conclude the query (needs RETURN)
    if (inQuery && result0.columns.nonEmpty && cc.yields.isEmpty)
      throw new IllegalArgumentException(
        "Procedure call inside a query does not support naming results " +
          "implicitly (name explicitly using `YIELD` instead)")
    if (inQuery && isLast && cc.yields.nonEmpty)
      throw new IllegalArgumentException(
        "Query cannot conclude with CALL … YIELD — add a RETURN")
    val result = if (cc.yields.isEmpty) result0
      else result0.select(cc.yields.map(col): _*)
    val df = env.df match {
      case None      => result
      case Some(cur) => cur.crossJoin(result)
    }
    val out = Env(Some(df), env.binds ++ result.columns.map(_ -> (ValueVar: Binding)))
    // YIELD … WHERE filters the yielded rows (may also read outer vars)
    cc.where.fold(out)(w => applyWhere(ctx, out, w))
  }

  /** CALL { inner }: uncorrelated form cross-joins the inner RETURN to every
    * outer row; correlated form (inner starts with an importing
    * `WITH x, y`) decorrelates — the sub-plan runs once over the DISTINCT
    * imported keys and joins back, so per-row subqueries cost one grouped
    * pass instead of a loop. A pure-aggregation inner (every RETURN item
    * aggregates, straight MATCH/UNWIND body) joins back LEFT OUTER with
    * count-aggregates coalesced to 0 — Cypher's aggregation-over-zero-rows
    * semantics, so zero-match outer rows survive. */
  /** Bind a CALL{}'s exported columns with the SUB plan's binding kinds
    * (a returned node is a node, not an opaque value) and hydrate entity
    * exports' needed properties — `CALL { … RETURN x } RETURN sum(x.prop)`
    * reads x.prop through the outer scope. */
  private def spliceBinds(ctx: Ctx, env: Env, newCols: Seq[String],
      subBinds: Map[String, Binding]): Env = {
    val typed = env.copy(binds = env.binds ++ newCols.map(c =>
      c -> subBinds.getOrElse(c, ValueVar)))
    val entities = newCols.filter(c => subBinds.get(c).exists {
      case NodeVar | RelVar => true; case _ => false })
    if (entities.isEmpty) typed else rehydrate(ctx, typed, entities)
  }

  private def planCallSubquery(ctx: Ctx, env: Env, cs: CallSubquery): Env = {
    require(cs.inTransactionsOf.isEmpty,
      "CALL {} IN TRANSACTIONS mutates the graph — use Cypher.execute")
    // read-only UNIT subquery (no trailing RETURN — e.g. `CALL { FINISH }`,
    // `CALL { CALL { FINISH } }`): yields no columns, and write bodies route
    // to the SubqueryForeach path before reaching here, so the body has no
    // observable effect; outer cardinality is preserved — a no-op
    val returnsRows = cs.innerQ.parts.exists(_.clauses.lastOption.exists {
      case _: ReturnClause | _: ShowSchemaClause | _: CallClause => true
      case _ => false
    })
    if (!returnsRows) return env
    if (cs.innerQ.parts.size > 1) {
      // CORRELATED UNION body: every branch starts with an importing WITH
      // of outer-bound variables — plan each branch over the DISTINCT
      // imported keys, union, join back (reference: the union subquery
      // runs once per argument row)
      val branchImports: Seq[Option[Seq[String]]] =
        cs.innerQ.parts.map(_.clauses.headOption match {
          case Some(WithClause(false, items, Nil, None, None, None))
            if items.nonEmpty && items.forall {
              case ReturnItem(Variable(v), alias, _) =>
                env.has(v) && alias.forall(_ == v)
              case _ => false
            } => Some(items.collect {
              case ReturnItem(Variable(v), _, _) => v })
          case _ => None
        })
      if (env.df.isDefined && branchImports.forall(_.isDefined)) {
        val refs = branchImports.flatMap(_.get).distinct.sorted
        val df = env.df.get
        val keyCols = refKeyCols(df, refs)
        val keys = df.select(keyCols.map(col): _*).distinct()
        val subEnvs = cs.innerQ.parts.map { part =>
          val sub0 = Env(Some(keys),
            env.binds.view.filterKeys(refs.contains).toMap)
          planCorrelatedClauses(ctx, sub0, refs, part.clauses.tail)
        }
        val (aligned, _) = reconcileUnionTypes(subEnvs.map(_.df.get))
        val unioned = aligned.reduce(_ unionByName _)
        val merged0 =
          if (cs.innerQ.unionAll) unioned else unioned.distinct()
        val joinRefs = joinRefCols(df, refs).filter(merged0.columns.contains)
        val merged = merged0.drop(merged0.columns.filter(c =>
          !joinRefs.contains(c) && refs.exists(r0 =>
            c.startsWith(r0 + "$"))): _*)
        val newCols = merged.columns.filterNot(c =>
          keyCols.contains(c) || joinRefs.contains(c))
        val joined = orderedSplice(df, merged,
          (l, r) => nullSafeJoin(l, r, joinRefs,
            if (cs.optional) "left_outer" else "inner"))
        return spliceBinds(ctx, Env(Some(joined), env.binds), newCols,
          subEnvs.head.binds)
      }
      // UNION body: plan the whole union (uncorrelated) and splice like
      // the uncorrelated single-part case. Planning each branch in-ctx
      // keeps entity BINDINGS for the exported columns (`CALL { … RETURN x
      // UNION … RETURN x } RETURN sum(x.prop)` — x stays a node); clause
      // shapes the correlated body planner doesn't model fall back to the
      // opaque whole-union plan
      val plannedInCtx: Option[(DataFrame, Map[String, Binding])] =
        try {
          val subEnvs = cs.innerQ.parts.map(part =>
            planCorrelatedClauses(ctx, Env(None, Map.empty), Nil, part.clauses))
          val (aligned, _) = reconcileUnionTypes(subEnvs.map(_.df.get))
          val u0 = aligned.reduce(_ unionByName _)
          Some((if (cs.innerQ.unionAll) u0 else u0.distinct(),
            subEnvs.head.binds))
        } catch { case _: IllegalArgumentException => None }
      val (inner, innerBinds) = plannedInCtx.getOrElse {
        val df0 = plan(ctx.spark, ctx.g, cs.innerQ, ctx.params,
          decodeTop = false)
        (df0, df0.columns.map(_ -> (ValueVar: Binding)).toMap)
      }
      val df = (env.df, cs.optional) match {
        case (None, false)      => inner
        case (None, true)       =>
          ctx.spark.range(1).drop("id").join(inner, lit(true), "left_outer")
        case (Some(cur), false) =>
          orderedSplice(cur, inner, (l, r) => l.crossJoin(r))
        case (Some(cur), true)  =>
          orderedSplice(cur, inner, (l, r) => l.join(r, lit(true), "left_outer"))
      }
      return spliceBinds(ctx, Env(Some(df), env.binds), inner.columns.toSeq,
        innerBinds)
    }
    val importing = cs.inner.clauses.headOption match {
      case Some(WithClause(false, items, Nil, None, None, None))
        if env.df.isDefined && items.nonEmpty && items.forall {
          case ReturnItem(Variable(v), alias, _) =>
            env.has(v) && alias.forall(_ == v)
          case _ => false
        } => Some(items.map { case ReturnItem(Variable(v), _, _) => v })
      case _ => None
    }
    importing match {
      case Some(refs0) =>
        val refs = refs0.sorted
        val df = env.df.get
        val keyCols = refKeyCols(df, refs)
        val sub0 = Env(Some(df.select(keyCols.map(col): _*).distinct()),
          env.binds.view.filterKeys(refs.contains).toMap)
        val sub0r = planCorrelatedClauses(ctx, sub0, refs, cs.inner.clauses.tail)
        val joinRefs = joinRefCols(df, refs).filter(sub0r.df.get.columns.contains)
        // the sub-plan's pass-through copies of the refs' hydrated columns
        // (`p$name`) duplicate the outer's — drop them before the join-back
        val dupCarried = sub0r.df.get.columns.filter(c =>
          !joinRefs.contains(c) && refs.exists(r0 => c.startsWith(r0 + "$")))
        val sub = sub0r.copy(df = sub0r.df.map(_.drop(dupCarried: _*)))
        val newCols = sub.df.get.columns.filterNot(c =>
          refs.contains(c) || joinRefs.contains(c))
        // aggregation over zero matches must yield one row (count 0, null
        // sums), not drop the outer row: eligible when the final RETURN is
        // all-aggregates and the body is plain MATCH/UNWIND
        val retOpt = cs.inner.clauses.lastOption.collect { case r: ReturnClause => r }
        val zeroPreserving = retOpt.exists(r =>
          r.items.nonEmpty && r.items.forall(i => containsAgg(i.expr)) &&
            r.skip.isEmpty && r.limit.isEmpty &&
            cs.inner.clauses.tail.dropRight(1).forall {
              case m: MatchClause  => !m.optional
              case _: UnwindClause => true
              case _               => false
            })
        if (zeroPreserving) {
          val countish = retOpt.get.items.collect {
            case i if (i.expr match {
              case CountStar         => true
              case Func("count", _, _) => true
              case _                 => false
            }) => itemAlias(i)
          }.toSet
          var joined = orderedSplice(df, sub.df.get,
            (l, r) => nullSafeJoin(l, r, joinRefs, "left_outer"))
          countish.intersect(newCols.toSet).foreach { c =>
            joined = joined.withColumn(c, coalesce(col(c), lit(0L)))
          }
          spliceBinds(ctx, Env(Some(joined), env.binds), newCols, sub.binds)
        } else
          // OPTIONAL CALL (reference OptionalCallSubquery): rows whose
          // subquery produced nothing survive with NULL yields
          spliceBinds(ctx, Env(Some(orderedSplice(df, sub.df.get,
            (l, r) => nullSafeJoin(l, r, joinRefs,
              if (cs.optional) "left_outer" else "inner"))),
            env.binds), newCols, sub.binds)
      case None =>
        val inner = planSingle(ctx.spark, ctx.g, cs.inner, ctx.params)
        val df = (env.df, cs.optional) match {
          case (None, false)      => inner
          case (None, true)       =>
            // OPTIONAL CALL as first clause: one all-NULL row when empty
            ctx.spark.range(1).drop("id").join(inner, lit(true), "left_outer")
          case (Some(cur), false) =>
            orderedSplice(cur, inner, (l, r) => l.crossJoin(r))
          case (Some(cur), true)  =>
            orderedSplice(cur, inner, (l, r) => l.join(r, lit(true), "left_outer"))
        }
        Env(Some(df), env.binds ++ inner.columns.map(_ -> (ValueVar: Binding)))
    }
  }

  /** Plan `clauses` as a refs-correlated subquery body over the DISTINCT
    * imported keys — shared by correlated CALL {} and the full-body
    * EXISTS/COUNT/COLLECT subquery expressions. ORDER BY/SKIP/LIMIT act
    * PER INPUT ROW (the reference runs the inner query once per argument
    * row): a global sort-limit would keep n rows across all keys, not n
    * per key — so pagination compiles to a row_number window partitioned
    * by the importing keys, applied before the projection; imported
    * variables are prepended to every projection so the correlation key
    * survives (and groups any aggregation). */
  private def planCorrelatedClauses(ctx: Ctx, sub0: Env, refs: Seq[String],
      clauses: Seq[Clause]): Env = {
    var sub = sub0
    def perKeyPage(aliasMap: Map[String, Expr], ob: Seq[SortItem],
        sk: Option[Expr], li: Option[Expr]): Unit =
      if (sk.isDefined || li.isDefined) {
        val sortCols =
          if (ob.isEmpty) Seq(lit(1))
          else ob.map { s =>
            val e = s.expr match {
              case Variable(v) if aliasMap.contains(v) => aliasMap(v)
              case e0 => e0
            }
            val c = compile(ctx, sub, e)
            if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
          }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(joinRefCols(sub.df.get, refs).map(col): _*)
          .orderBy(sortCols: _*)
        var df2 = sub.df.get.withColumn("__rn", row_number().over(w))
        val lo = sk.map(e => lit(constInt(ctx, e).toLong)).getOrElse(lit(0L))
        df2 = df2.filter(col("__rn") > lo)
        li.foreach { e =>
          df2 = df2.filter(col("__rn") <= lo + lit(constInt(ctx, e).toLong))
        }
        sub = sub.copy(df = Some(df2.drop("__rn")))
      }
    // pagination before the projection when items are plain (ORDER BY
    // may read pre-projection variables; aliases resolve via the map),
    // after it when they aggregate (sort keys only exist post-agg)
    def projectPaged(items: Seq[ReturnItem], distinct: Boolean,
        ob: Seq[SortItem], sk: Option[Expr], li: Option[Expr],
        isReturn: Boolean): Unit =
      if (items.exists(i => containsAgg(i.expr))) {
        sub = planProjection(ctx, sub, withRefs(refs, items), distinct,
          Nil, None, None, isReturn)
        perKeyPage(Map.empty, ob, sk, li)
      } else {
        perKeyPage(items.collect {
          case ReturnItem(e, Some(a), _) => a -> e }.toMap, ob, sk, li)
        sub = planProjection(ctx, sub, withRefs(refs, items), distinct,
          Nil, None, None, isReturn)
      }
    clauses.foreach {
      case m: MatchClause  => sub = planMatch(ctx, sub, m)
      case u: UnwindClause => sub = planUnwind(ctx, sub, u)
      case w: WithClause =>
        projectPaged(w.items, w.distinct, w.orderBy, w.skip, w.limit,
          isReturn = false)
        w.where.foreach { pred =>
          sub = applyWhere(ctx, sub, pred)
        }
      case r: ReturnClause =>
        // the body's RETURN is an INTERNAL projection (the splice joins it
        // back to the outer row): isReturn = false keeps imported PATH
        // variables as their p$* join-key columns instead of materializing
        // the path struct
        projectPaged(r.items, r.distinct, r.orderBy, r.skip, r.limit,
          isReturn = false)
      case cc: CallClause => sub = planCall(ctx, sub, cc)
      case nested: CallSubquery if nested.inTransactionsOf.isEmpty &&
          !nested.innerQ.parts.exists(_.clauses.exists(isWrite)) =>
        sub = planCallSubquery(ctx, sub, nested)
      case other => throw new IllegalArgumentException(
        s"unsupported clause in correlated subquery body: $other")
    }
    sub
  }

  /** CALL { <writes> } IN TRANSACTIONS OF n ROWS (reference TransactionApply
    * LogicalPlan.scala:4039 / TransactionForeach :4100,
    * pipes/TransactionForeachPipe.scala): the inner updating query runs over
    * chunks of n input rows with a commit (ctx.txCommit) after every chunk —
    * the bulk-load idiom that bounds per-transaction state. Chunks are
    * processed sequentially, as in the reference; within a chunk every write
    * is the usual set-based batch operator, so a 100 TB load is
    * |rows|/n sequential commits of fully-distributed jobs.
    *
    * With an inner RETURN (TransactionApply, not TransactionForeach), each
    * batch's RETURN rows are materialized at that batch's commit point and
    * the statement result is their union. Variables in scope afterwards are
    * the subquery's scope (imported variables) plus the RETURN items —
    * non-imported outer variables do not survive an inner RETURN. */
  private def planCallInTransactions(ctx: Ctx, env: Env, cs: CallSubquery,
      n: Long): Env = {
    require(n >= 1, s"IN TRANSACTIONS OF $n ROWS: batch size must be >= 1")
    val df0 = env.df.getOrElse(unit(ctx.spark))
    val importing = cs.inner.clauses.headOption match {
      case Some(WithClause(false, items, Nil, None, None, None))
        if items.nonEmpty && items.forall {
          case ReturnItem(Variable(v), alias, _) => env.has(v) && alias.forall(_ == v)
          case _ => false
        } => Some(items.map { case ReturnItem(Variable(v), _, _) => v })
      case _ => None
    }
    val innerClauses = if (importing.isDefined) cs.inner.clauses.tail else cs.inner.clauses
    innerClauses.zipWithIndex.foreach {
      case (_: ReturnClause, i) => require(i == innerClauses.size - 1,
        "RETURN must be the final clause of CALL {} IN TRANSACTIONS")
      case _ => ()
    }
    val hasReturn = innerClauses.lastOption.exists(_.isInstanceOf[ReturnClause])
    require(cs.statusVar.isEmpty || cs.onError != "fail",
      "REPORT STATUS requires ON ERROR CONTINUE or ON ERROR BREAK")
    // EVERY outer column survives the CALL (reference: the subquery appends
    // its RETURN columns to the outer row); the inner scope still sees only
    // the imported variables — non-imported columns join back on the origin
    // row id after the batches run
    val keep = df0.columns.toSeq
    val binds = importing match {
      case Some(refs) => env.binds.view.filterKeys(refs.contains).toMap
      // no importing WITH → the body sees NO outer variables (reference
      // subquery scoping; outer columns still ride along and re-join on
      // the origin row id after the batches)
      case None       => Map.empty[String, Binding]
    }
    // number rows once, WITHOUT a single-partition global window: batch
    // *execution* is inherently sequential (matching the reference), but
    // the numbering stays distributed — zipWithIndex counts rows per
    // partition in one job, derives cumulative offsets on the driver
    // (#partitions longs), and numbers within partitions in parallel
    val rowId = ctx.fresh("txrow")
    val numbered = numberRows(df0.select(keep.map(col): _*), rowId)
      .freshCkpt()
    lazy val total = numbered.count()
    val keepVars = binds.keys.toSeq.sorted
    // the inner plan's input: the batch's rows restricted to the imported
    // scope, the origin row id riding as the hidden __rowseq column (it
    // threads through inner projections and orders inner ORDER BY per
    // origin row — the reference executes the subquery per input row)
    val innerCols = (importing match {
      case Some(refs) => refKeyCols(numbered, refs.sorted)
      case None       => keep
    }).distinct.filterNot(_ == "__rowseq")
    def mkBatch(slice: DataFrame): DataFrame =
      slice.select((innerCols.map(col) :+ col(rowId).as("__rowseq")): _*)
    val batchResults = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var resultBinds: Map[String, Binding] = Map.empty
    var committedWrites = false
    // a batch's hydrated input columns only go stale when a PRIOR batch can
    // have mutated a pre-existing entity — a create-only body (the common
    // batched-upsert shape) never invalidates them, and the per-batch
    // nodes-table refresh join is exactly what regressed q_cypher_tx_batch
    // 1.5× in r11
    val bodyMutates = mutatesExisting(innerClauses, binds.keySet)
    def runBatch(batch: DataFrame, commit: Boolean): Option[DataFrame] = {
      val preBatch = ctx.g
      var inner = Env(Some(batch), binds)
      // later batches must read THROUGH earlier batches' commits: the
      // numbered input was materialized against the pre-statement snapshot,
      // so its hydrated columns go stale once any batch writes (reference
      // "not use stale property caches"); the first batch skips the refresh
      if (committedWrites && bodyMutates)
        inner = rehydrate(ctx, inner, entityVars(inner))
      val lastIdx = innerClauses.size - 1
      innerClauses.zipWithIndex.foreach { case (cl, ci) => cl match {
        case m: MatchClause   => inner = planMatch(ctx, inner, m)
        case u: UnwindClause  => inner = planUnwind(ctx, inner, u)
        case wc: WithClause =>
          inner = planProjection(ctx, inner, wc.items, wc.distinct, wc.orderBy,
            wc.skip, wc.limit, isReturn = false)
          wc.where.foreach { pred =>
            inner = inner.copy(df = inner.df.map(_.filter(compile(ctx, inner, pred))))
          }
        case r: ReturnClause  =>
          // imported variables prepended so the correlation columns survive
          // (and group any aggregation, as in correlated CALL {})
          inner = planProjection(ctx, inner, withRefs(keepVars, r.items),
            r.distinct, r.orderBy, r.skip, r.limit, isReturn = true,
            keepSeq = true)
        case c: CreateClause  => inner = planCreate(ctx, inner, c)
        case m: MergeClause   => inner = planMerge(ctx, inner, m)
        case s: SetClause     =>
          planSetItems(ctx, inner, s.items)
          // a later clause in the same batch reads the written value
          if (ci < lastIdx) inner = rehydrate(ctx, inner, entityVars(inner))
        case r: RemoveClause  =>
          planSetItems(ctx, inner, r.items)
          if (ci < lastIdx) inner = rehydrate(ctx, inner, entityVars(inner))
        case d: DeleteClause  => planDelete(ctx, inner, d)
        case f: ForeachClause =>
          planForeach(ctx, inner, f)
          // a FOREACH body may SET on bound entities: later clauses in
          // the same batch read the written value (like SetClause above)
          if (ci < lastIdx) inner = rehydrate(ctx, inner, entityVars(inner))
        case _: FinishClause  => () // explicit no-result; writes commit
        case cs2: CallSubquery => // nested unit subquery inside the body
          val w = cs2.innerQ.parts.exists(_.clauses.exists(isWrite))
          inner = cs2.inTransactionsOf match {
            case Some(n2) => planCallInTransactions(ctx, inner, cs2, n2)
            case None if w =>
              planCallInTransactions(ctx, inner, cs2, Long.MaxValue)
            case None => planCallSubquery(ctx, inner, cs2)
          }
          if (w && ci < lastIdx && cs2.innerQ.parts.exists(p =>
              mutatesExisting(p.clauses, inner.binds.keySet)))
            inner = rehydrate(ctx, inner, entityVars(inner))
        case other => throw new IllegalArgumentException(
          s"unsupported clause in CALL IN TRANSACTIONS: $other")
      }}
      val out = if (hasReturn) {
        // materialize the batch's rows AT its commit point: later batches
        // mutate the graph, and TransactionApply reports per-batch state
        resultBinds = inner.binds
        Some(inner.df.get.freshCkpt())
      } else None
      if (commit) { // transaction boundary: materialize dirty tables only
        ctx.g = Planner.commitChanged(preBatch, ctx.g, ctx.txCommit)
        if (ctx.g ne preBatch) committedWrites = true
      }
      out
    }
    // CONCURRENT TRANSACTIONS (reference runs batches on a worker pool,
    // each reading the snapshot it started from — no batch sees a sibling's
    // writes). Spark-first translation: every batch reads the SAME
    // pre-statement snapshot, so the union of their inputs is ONE
    // set-based distributed job with a single commit — the parallelism the
    // reference buys with its pool is already inside the job, and the
    // commit count drops from ⌈rows/n⌉ to 1. ON ERROR CONTINUE/BREAK and
    // REPORT STATUS need per-batch error isolation, so they keep the
    // sequential loop below.
    // per-batch status struct (constant within a batch); the reference
    // reports the kernel tx id — consumers only group by / null-check it
    def statusOf(lo: Long, started: Boolean, committed: Boolean,
        err: String): Column =
      struct(lit(started).as("started"), lit(committed).as("committed"),
        lit(err).cast("string").as("errorMessage"),
        (if (started) concat(lit("graft-tx-"), lit(lo))
         else lit(null).cast("string")).as("transactionId"))
    def withStatus(d: DataFrame, st: Column): DataFrame =
      cs.statusVar.fold(d)(sv => d.withColumn(sv, st))
    // inner-result schema for null-extending failed/skipped batches:
    // planned once over an empty slice (no rows → no writes, no commit)
    var shapeMemo: Option[DataFrame] = None
    def shape(): DataFrame = {
      if (shapeMemo.isEmpty)
        shapeMemo = runBatch(mkBatch(numbered.limit(0)), commit = false)
      shapeMemo.get
    }
    // a failed (rolled-back) or post-BREAK batch still emits its INPUT rows
    // once each, inner RETURN columns null (reference error-handling
    // acceptance: ON ERROR CONTINUE/BREAK with inner RETURN)
    def nullExtend(slice: DataFrame): DataFrame = {
      val sh = shape()
      slice.select(sh.columns.toIndexedSeq.map { c =>
        if (c == "__rowseq") col(rowId).as("__rowseq")
        else if (slice.columns.contains(c)) col(c)
        else lit(null).cast(sh.schema(c).dataType).as(c)
      }: _*)
    }
    // assemble the CALL's output: pieces union in batch order; outer
    // columns the inner scope dropped join back on the origin row id; a
    // fresh partition-ordered id becomes the downstream encounter order
    def finishReturn(pieces: Seq[DataFrame]): Env = {
      val u0 = pieces.reduce(_.unionByName(_, allowMissingColumns = true))
      val u = (if (u0.columns.contains("__rowseq"))
          u0.withColumnRenamed("__rowseq", "__txorig")
        else u0.withColumn("__txorig", lit(null).cast("long")))
        .withColumn("__rowseq", monotonically_increasing_id())
      val extras = numbered.columns.filterNot(c =>
        c == rowId || u.columns.contains(c))
      val joined =
        if (extras.isEmpty) u
        else u.join(
          numbered.select((col(rowId).as("__txorig") +:
            extras.toIndexedSeq.map(col)): _*),
          Seq("__txorig"), "left_outer")
      Env(Some(joined.drop("__txorig")),
        env.binds ++ resultBinds ++
          cs.statusVar.map(_ -> (ValueVar: Binding)))
    }
    // SEQUENTIAL batches collapse to the same single set-based job when
    // the collapse is unobservable: no batch's reads can see any batch's
    // writes (bodyReadsItsWrites — batch k's reads observing batch j<k's
    // commits is the same read-pattern/write-pattern overlap test), no
    // pre-existing entity is mutated (mutatesExisting — cross-batch
    // last-writer-wins on a shared target would otherwise pick a
    // different winner than one set-based pass), and commits go to the
    // default snapshot materializer (a user-supplied durable txCommit
    // observes each batch boundary, so it keeps the real loop). This is
    // the scale fix: the loop is a serial driver-side Catalyst pass per
    // batch, and batch COUNT grows with input rows — ⌈rows/n⌉ plans at
    // 100× data — while the collapsed job plans once and lets the
    // cluster parallelize inside. Set-based MERGE already implements the
    // cross-row match-or-create semantics the per-batch loop would give.
    val collapsible = cs.concurrent ||
      (!bodyReadsItsWrites(innerClauses) &&
        !mutatesExisting(innerClauses, binds.keySet) &&
        (ctx.txCommit eq Planner.defaultTxCommit))
    if (collapsible && cs.onError == "fail" && cs.statusVar.isEmpty) {
      val out = runBatch(mkBatch(numbered), commit = true)
      return if (hasReturn) finishReturn(Seq(out.get)) else env
    }

    // per-batch status rows for ON ERROR / REPORT STATUS (reference
    // TransactionApply's statusses): a failed batch ROLLS BACK — snapshots
    // are immutable, so rollback is restoring the pre-batch pointer
    val statuses = Seq.newBuilder[(Long, Long, Boolean, Boolean, String)]
    var broke = false
    var start = 1L
    var done = total == 0
    while (!done) {
      // overflow-safe upper bound (n = Long.MaxValue means "one batch")
      val hi = if (n >= Long.MaxValue - start) Long.MaxValue else start + n
      val slice = numbered.filter(col(rowId) >= start && col(rowId) < hi)
      if (broke) {
        statuses += ((start, hi, false, false, null))
        if (hasReturn)
          batchResults += withStatus(nullExtend(slice),
            statusOf(start, started = false, committed = false, null))
      } else {
        val before = ctx.g
        try {
          val out = runBatch(mkBatch(slice), commit = true)
          out.foreach { o =>
            batchResults += withStatus(o,
              statusOf(start, started = true, committed = true, null)) }
          statuses += ((start, hi, true, true, null))
        } catch {
          case e: Exception if cs.onError != "fail" =>
            ctx.g = before // rollback
            statuses += ((start, hi, true, false, e.getMessage))
            if (hasReturn)
              batchResults += withStatus(nullExtend(slice),
                statusOf(start, started = true, committed = false,
                  e.getMessage))
            if (cs.onError == "break") broke = true
        }
      }
      done = hi > total
      start = hi
    }
    if (hasReturn) {
      if (batchResults.isEmpty) batchResults += shape() // schema-only
      finishReturn(batchResults.toSeq)
    } else cs.statusVar match {
      case Some(sv) =>
        val spark = ctx.spark
        import spark.implicits._
        val stDf = statuses.result().toDF("__lo", "__hi", "__started",
          "__committed", "__err")
        val joined = numbered.join(broadcast(stDf),
            col(rowId) >= col("__lo") && col(rowId) < col("__hi"), "left_outer")
          .withColumn(sv, struct(col("__started").as("started"),
            col("__committed").as("committed"), col("__err").as("errorMessage"),
            // per-batch transaction id (reference reports the kernel tx id;
            // consumers only group by it / null-check it)
            when(col("__started"),
              concat(lit("graft-tx-"), col("__lo"))).as("transactionId")))
          .withColumn("__rowseq", col(rowId)) // hidden encounter order
          .drop(rowId, "__lo", "__hi", "__started", "__committed", "__err")
        Env(Some(joined), env.binds + (sv -> ValueVar))
      case None => env // TransactionForeach: input rows pass through
    }
  }

  /** Sequential 1-based row numbers WITHOUT a single-partition global
    * window: RDD zipWithIndex computes per-partition counts in one job,
    * derives cumulative offsets on the driver (#partitions longs), and
    * numbers within partitions in parallel — the numbering order is
    * partition order, the same order monotonically_increasing_id induces. */
  private[graft] def numberRows(df: DataFrame, rowId: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        rowId, org.apache.spark.sql.types.LongType, nullable = false))
    df.sparkSession.createDataFrame(
      df.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L)) },
      schema)
  }

  /** prepend the imported variables to a projection so the correlation key
    * survives the subquery's WITH/RETURN (and groups any aggregation). */
  private def withRefs(refs: Seq[String], items: Seq[ReturnItem]): Seq[ReturnItem] =
    refs.map(v => ReturnItem(Variable(v), None)) ++
      items.filterNot {
        case ReturnItem(Variable(v), a, _) => refs.contains(v) && a.forall(_ == v)
        case _ => false
      }

  // ---- UNWIND -----------------------------------------------------------

  private def planUnwind(ctx: Ctx, env: Env, u: UnwindClause): Env = {
    // path-element property reads in UNWIND position
    // (`UNWIND [n IN nodes(p) | n.name] AS x`) hydrate through the same
    // enrichment as projections
    var env2 = enrichPathElems(ctx, env, Seq(u.expr))
    env2 = env2.copy(df = Some(env2.df.getOrElse(unit(ctx.spark))))
    // pattern comprehensions / subquery expressions in UNWIND position
    // (`UNWIND [(a)-->(b) | b] AS c`) lower to RollUpApply columns first
    val expr =
      if (containsPatternExists(u.expr)) {
        val (e2, rewritten, _) = lowerExists(ctx, env2, u.expr)
        env2 = e2
        rewritten
      } else u.expr
    val df = env2.df.get
    val c0 = compile(ctx, env2, expr)
    val dt = dataTypeOf(env2, c0)
    // a variant-encoded value (heterogeneous list / mixed column): a LIST
    // unwinds to its lifted elements, NULL to no rows, a scalar to itself
    if (dt.exists(graft.functions.Orderability.isEncoded))
      return Env(Some(df.withColumn(u.alias,
          explode(graft.functions.Orderability.unwindElems(c0)))),
        env2.binds + (u.alias -> ValueVar))
    // UNWIND over an ENTITY list (`UNWIND relationships(p) AS r … SET
    // r.prop`): the element binds as an entity, with its needed
    // properties hydrated from the current snapshot
    entityListKind(env2, expr) match {
      case Some(k) =>
        val bind: Binding = if (k == RelListVar) RelVar else NodeVar
        val out = Env(Some(df.withColumn(u.alias, explode(c0))),
          env2.binds + (u.alias -> bind))
        return rehydrate(ctx, out, Seq(u.alias))
      case None => ()
    }
    // UNWIND null yields no rows (openCypher): a NullType literal needs an
    // array cast for explode to accept it (null arrays explode to nothing)
    val c = if (dt.contains(org.apache.spark.sql.types.NullType))
        c0.cast("array<string>")
      else c0
    // explode: empty/null lists yield no rows — exactly Cypher's UNWIND
    Env(Some(df.withColumn(u.alias, explode(c))), env2.binds + (u.alias -> ValueVar))
  }

  private def unit(spark: SparkSession): DataFrame = spark.range(1).select()

  // ---- WITH / RETURN ----------------------------------------------------

  private def planProjection(ctx: Ctx, envIn: Env, items0: Seq[ReturnItem],
      distinct: Boolean, orderBy: Seq[SortItem], skip: Option[Expr],
      limit: Option[Expr], isReturn: Boolean,
      keepSeq: Boolean = false): Env = {
    // ORDER BY may reference THIS projection's aliases (`WITH nodes(p) AS n
    // ORDER BY head(n).p`): resolve them to their source expressions before
    // computing path-element hydration needs
    val aliasSrc0: Map[String, Expr] =
      items0.map(i => itemAlias(i) -> i.expr).toMap
    def subst0(e: Expr): Expr = e match {
      case Variable(v) if aliasSrc0.contains(v) => aliasSrc0(v)
      case Prop(b, k)      => Prop(subst0(b), k)
      case Func(n, as, d)  => Func(n, as.map(subst0), d)
      case BinOp(op, l, r) => BinOp(op, subst0(l), subst0(r))
      case UnaryOp(op, o)  => UnaryOp(op, subst0(o))
      case Index(b, i2)    => Index(subst0(b), subst0(i2))
      case other => other
    }
    val env = enrichPathElems(ctx, envIn,
      items0.map(_.expr) ++ orderBy.map(s => subst0(s.expr)))
    // `*` expands to every user-named binding (pass-through), keeping any
    // additional explicit items (`WITH *, x AS y`). A star-expanded item
    // that DUPLICATES an explicit pass-through of the same variable (the
    // correlated-subquery planner prepends imported refs — `RETURN *`
    // inside EXISTS{}) collapses; an explicit user duplicate still errors.
    val starExpanded0: Seq[(ReturnItem, Boolean)] = items0.flatMap {
      case ReturnItem(Variable("*"), _, _) =>
        env.binds.collect {
          case (v, b) if !v.startsWith("__") && b != PathVar => v
        }.toSeq.sorted.map(v => (ReturnItem(Variable(v), None), true))
      case i => Seq((i, false))
    }
    val starExpanded = starExpanded0
      .foldLeft(Vector.empty[(ReturnItem, Boolean)]) { (acc, p) =>
        p match {
          case (ReturnItem(Variable(v), a, _), fromStar) if a.forall(_ == v) &&
              acc.exists {
                case (ReturnItem(Variable(v2), a2, _), fs2) =>
                  v2 == v && a2.forall(_ == v2) && (fromStar || fs2)
                case _ => false
              } => acc
          case _ => acc :+ p
        }
      }.map(_._1)
    // EXISTS{} / COUNT{} subqueries in projection items lower to flag/count
    // columns first (NestedPlanExpression)
    var loweredEnv = env.copy(df = Some(env.df.getOrElse(unit(ctx.spark))))
    val items = starExpanded.map { i0 =>
      // a bare pattern in VALUE position is the LIST OF MATCHED PATHS, not
      // an existence flag (reference
      // ReplacePatternExpressionWithCollectSubquery)
      val i = i0.copy(expr = patternValuePositions(ctx, loweredEnv, i0.expr))
      if (containsPatternExists(i.expr)) {
        val (e2, rewritten, _) = lowerExists(ctx, loweredEnv, i.expr)
        loweredEnv = e2
        i.copy(expr = rewritten)
      } else i
    }
    val df = loweredEnv.df.get
    val inEnv = loweredEnv
    val hasAgg = items.exists(i => containsAgg(i.expr))

    final case class Out(alias: String, item: ReturnItem,
        passThrough: Option[String], coalesceOf: Option[Seq[String]] = None)
    val outs = items.map { i =>
      // coalesce over SAME-KIND entity variables stays an entity under the
      // alias (reference: the value is a node/relationship; `ab.prop`
      // hydrates through whichever argument won per row)
      val coalesceOf = i.expr match {
        case Func("coalesce", as, _) if as.nonEmpty && as.forall {
              case Variable(v) => env.has(v) &&
                (env.binds(v) == NodeVar || env.binds(v) == RelVar)
              case _ => false
            } && as.map { case Variable(v) => env.binds(v) }
              .distinct.size == 1 =>
          Some(as.map { case Variable(v) => v; case _ => "" })
        case _ => None
      }
      val pass = i.expr match {
        // path variables have no column of their own: pass their p$* columns
        // through WITH (binding preserved), but materialize the path struct
        // in RETURN (no compile-time pass). A RENAME (`WITH p AS person`)
        // passes through too: the alias inherits the entity binding and the
        // hydrated columns re-prefix (reference Namespacer — a projected
        // entity variable stays an entity under its new name)
        case Variable(v) if env.has(v) && env.binds(v) != ValueVar &&
          !(isReturn && env.binds(v) == PathVar) => Some(v)
        case _ => None
      }
      Out(itemAlias(i), i, pass, coalesceOf)
    }
    require(outs.map(_.alias).distinct.size == outs.size,
      "duplicate column aliases in projection")
    // record/propagate entity provenance through map literals: `{k: a}`
    // with a an entity keeps a's kind on field k (consumed when `m.k` is
    // later projected back to a variable and used in entity position)
    // deferred until after items are planned (items of THIS projection
    // still read the previous scope's provenance): a re-projected alias
    // sheds any earlier provenance — `WITH {k: n} AS m ... WITH
    // {k: n.prop} AS m` must not keep m.k = NodeVar (a stale entry would
    // treat a value as an entity id downstream) — EXCEPT a bare
    // pass-through (`WITH m`), which keeps the binding
    def applyEntityFieldProvenance(): Unit = outs.foreach { o =>
      val passesSelf = o.item.expr match {
        case Variable(v) => v == o.alias
        case _           => false
      }
      if (!passesSelf) {
        val stale = ctx.entityFields.keys
          .filter(_.startsWith(o.alias + ".")).toList
        stale.foreach(ctx.entityFields.remove)
      }
      o.item.expr match {
        case MapLit(es) => es.foreach {
          case (k, Variable(v)) => env.binds.get(v) match {
            case Some(b @ (NodeVar | RelVar)) =>
              ctx.entityFields(s"${o.alias}.$k") = b
            case _ => ()
          }
          case _ => ()
        }
        case _ => ()
      }
    }
    def mapFieldKind(e: Expr): Option[Binding] = e match {
      case Prop(Variable(m), k) => ctx.entityFields.get(s"$m.$k")
      case _ => None
    }
    // startNode(r)/endNode(r) projected to an alias ARE nodes (reference
    // semantic typing — PatternExpressionAcceptance anchors pattern
    // comprehensions on `WITH STARTNODE(r0) AS n`): bind NodeVar so later
    // pattern positions accept the alias
    def entityScalarKind(e: Expr): Option[Binding] = e match {
      case Func("startnode" | "endnode", Seq(Variable(r)), _)
          if env.binds.get(r).contains(RelVar) => Some(NodeVar)
      // an INDEXED element of an entity list is that entity kind
      // (`nodes(p)[0] AS x` — reference semantic typing; x anchors
      // patterns downstream)
      case Index(le, _) => entityListKind(env, le) match {
        case Some(NodeListVar) => Some(NodeVar)
        case Some(RelListVar)  => Some(RelVar)
        case _                 => None
      }
      case Func("head" | "last", Seq(le), _) => entityListKind(env, le) match {
        case Some(NodeListVar) => Some(NodeVar)
        case Some(RelListVar)  => Some(RelVar)
        case _                 => None
      }
      case _ => None
    }

    /** carried hydrated columns for a passed-through entity variable,
      * re-prefixed to the output alias when the item renames it */
    def carriedAs(v: String, alias: String): Seq[Column] =
      if (isReturn) Seq.empty
      else df.columns.filter(_.startsWith(v + "$")).toSeq
        .map(n => col(n).as(alias + n.stripPrefix(v)))

    /** projection + carried columns for an entity-coalesce output: the
      * alias id picks the first non-null source; each hydrated suffix
      * follows the same per-row winner */
    def coalesceCols(srcs: Seq[String], alias: String): Seq[Column] = {
      val idCol = coalesce(srcs.map(col): _*).as(alias)
      if (isReturn) Seq(idCol)
      else {
        val suffixes = srcs.flatMap(v => df.columns.toSeq
          .filter(_.startsWith(v + "$")).map(_.drop(v.length + 1))).distinct
        idCol +: suffixes.map { k =>
          srcs.foldRight(lit(null): Column) { (v, acc) =>
            val c0 = if (df.columns.contains(s"$v$$$k")) col(s"$v$$$k")
              else lit(null)
            when(col(v).isNotNull, c0).otherwise(acc)
          }.as(s"$alias$$$k")
        }
      }
    }

    var projected: DataFrame = null
    var newBinds = Map.empty[String, Binding]

    if (hasAgg) {
      val (keys, aggs) = outs.partition(o => !containsAgg(o.item.expr))
      val keyCols = keys.flatMap { o =>
        o.passThrough match {
          case Some(v) if env.binds(v) == PathVar => carriedAs(v, o.alias)
          case Some(v) => col(v).as(o.alias) +: carriedAs(v, o.alias)
          case None if o.coalesceOf.isDefined =>
            coalesceCols(o.coalesceOf.get, o.alias)
          case None    => Seq(compile(ctx, inEnv, o.item.expr).as(o.alias))
        }
      }
      val aggCols = aggs.map(o => compile(ctx, inEnv, o.item.expr).as(o.alias))
      // encounter-order aggregation: when a hidden __rowseq rides the frame
      // (CALL IN TRANSACTIONS emits one), collect() must accumulate in input
      // order and groups must surface in first-seen order (the reference's
      // row-at-a-time runtime gives both for free). Grouped: co-partition by
      // the keys FIRST, sort each partition by __rowseq — the aggregation
      // reuses the partitioning, so per-group accumulation follows __rowseq.
      // Global: range-sort then fold partitions in order.
      val seqCol = df.columns.contains("__rowseq")
      val dfA =
        if (!seqCol) df
        else if (keyCols.isEmpty) df.orderBy(col("__rowseq")).coalesce(1)
        else df.repartition(keyCols: _*).sortWithinPartitions(col("__rowseq"))
      val aggCols2 =
        if (seqCol) aggCols :+ min(col("__rowseq")).as("__rowseq")
        else aggCols
      projected =
        if (keyCols.isEmpty) dfA.agg(aggCols2.head, aggCols2.tail: _*)
        else dfA.groupBy(keyCols: _*).agg(aggCols2.head, aggCols2.tail: _*)
      newBinds = outs.map(o => o.alias ->
        o.passThrough.map(env.binds).getOrElse(
          o.coalesceOf.map(ss => env.binds(ss.head)).orElse(
            entityListKind(env, o.item.expr)).orElse(
            mapFieldKind(o.item.expr)).orElse(
            entityScalarKind(o.item.expr)).getOrElse(ValueVar))).toMap
    } else {
      val projCols = outs.flatMap { o =>
        o.passThrough match {
          case Some(v) if env.binds(v) == PathVar => carriedAs(v, o.alias)
          case Some(v) => col(v).as(o.alias) +: carriedAs(v, o.alias)
          case None if o.coalesceOf.isDefined =>
            coalesceCols(o.coalesceOf.get, o.alias)
          case None    => Seq(compile(ctx, inEnv, o.item.expr).as(o.alias))
        }
      }
      // pre-distinct sort columns may reference non-projected expressions;
      // aliases introduced by THIS projection resolve inside the sort
      // expression too (`WITH nodes(p) AS n ORDER BY size(n)` — openCypher
      // resolves ORDER BY against the projection scope first)
      val sortable = !distinct
      val aliasSrc: Map[String, Expr] =
        outs.map(o => o.alias -> o.item.expr).toMap
      def substAliases(e: Expr): Expr = e match {
        case Variable(v) if aliasSrc.contains(v) => aliasSrc(v)
        case Prop(b, k)        => Prop(substAliases(b), k)
        case Func(n, as, d)    => Func(n, as.map(substAliases), d)
        case BinOp(op, l, r)   => BinOp(op, substAliases(l), substAliases(r))
        case UnaryOp(op, o)    => UnaryOp(op, substAliases(o))
        case IsNull(o, neg)    => IsNull(substAliases(o), neg)
        case ListLit(xs)       => ListLit(xs.map(substAliases))
        case Index(b, i2)      => Index(substAliases(b), substAliases(i2))
        case Slice(l, f, t)    => Slice(substAliases(l),
          f.map(substAliases), t.map(substAliases))
        case StringPred(op, l, r) =>
          StringPred(op, substAliases(l), substAliases(r))
        case CaseExpr(subj, ws, d) => CaseExpr(subj.map(substAliases),
          ws.map { case (a, b) => (substAliases(a), substAliases(b)) },
          d.map(substAliases))
        case other => other
      }
      val sortCols: Seq[(String, Column, Boolean)] = orderBy.zipWithIndex.map {
        case (s, i) =>
          s.expr match {
            case Variable(n) if outs.exists(_.alias == n) =>
              (n, null, s.ascending) // sort on the projected column
            case e if sortable =>
              (s"__sort_$i", compile(ctx, inEnv, substAliases(e)), s.ascending)
            case e => // DISTINCT: sort must reference projected aliases
              (outs.find(_.item.expr == e).map(_.alias)
                .getOrElse(defaultAlias(e)), null, s.ascending)
          }
      }
      val extra = sortCols.collect { case (n, c, _) if c != null => c.as(n) }
      // thread the hidden encounter-order column through non-dedup
      // projections (DISTINCT and explicit ORDER BY both supersede it)
      val seqThrough =
        if (df.columns.contains("__rowseq") && !distinct &&
            (orderBy.isEmpty || keepSeq))
          Seq(col("__rowseq"))
        else Nil
      projected = df.select((projCols ++ extra ++ seqThrough): _*)
      if (distinct) projected = projected.distinct()
      if (sortCols.nonEmpty) {
        // Cypher null placement: last when ascending, first when descending
        // (reference values comparator) — the opposite of Spark's default
        val explicit = sortCols.map { case (n, _, asc) =>
          if (asc) col(n).asc_nulls_last else col(n).desc_nulls_first }
        // keepSeq (CALL IN TX inner RETURN): the subquery executes per
        // input row, so its ORDER BY sorts WITHIN each origin row
        val full =
          if (keepSeq && projected.columns.contains("__rowseq"))
            col("__rowseq").asc +: explicit
          else explicit
        projected = projected.orderBy(full: _*)
      }
      projected = projected.drop(sortCols.collect {
        case (n, c, _) if c != null => n }: _*)
      newBinds = outs.map(o => o.alias ->
        o.passThrough.map(env.binds).getOrElse(
          o.coalesceOf.map(ss => env.binds(ss.head)).orElse(
            entityListKind(env, o.item.expr)).orElse(
            mapFieldKind(o.item.expr)).orElse(
            entityScalarKind(o.item.expr)).getOrElse(ValueVar))).toMap
    }
    applyEntityFieldProvenance()

    if (hasAgg && orderBy.nonEmpty) {
      // post-aggregation ORDER BY resolves against the output aliases; an
      // expression textually equal to a grouping item's SOURCE (`WITH a.p
      // AS ap … ORDER BY a.p`) sorts on that item's output column
      val postEnv = Env(Some(projected), newBinds)
      val explicit = orderBy.map { s =>
        val c = outs.find(_.item.expr == s.expr).map(o => col(o.alias))
          .getOrElse(compile(ctx, postEnv, s.expr))
        if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
      }
      val full =
        if (keepSeq && projected.columns.contains("__rowseq"))
          col("__rowseq").asc +: explicit
        else explicit
      projected = projected.orderBy(full: _*)
    }
    if (projected.columns.contains("__rowseq") && !keepSeq) {
      // explicit ORDER BY supersedes encounter order; a final RETURN both
      // sorts by it (reference row order) and hides the column
      if (orderBy.nonEmpty) projected = projected.drop("__rowseq")
      else if (isReturn)
        projected = projected.orderBy(col("__rowseq")).drop("__rowseq")
    }
    // a WITH's explicit ORDER BY must survive into a later aggregation
    // (reference: collect() accumulates rows in incoming order) — stamp the
    // hidden encounter-order column in sorted order. monotonically
    // increasing ids are ascending across the range-partitioned sort
    // output, so the stamp IS the sort order; the aggregation path above
    // already folds by __rowseq.
    if (!isReturn && !keepSeq && orderBy.nonEmpty)
      projected = projected.withColumn("__rowseq",
        monotonically_increasing_id())
    skip.foreach { e => projected = projected.offset(constInt(ctx, e)) }
    limit.foreach { e => projected = projected.limit(constInt(ctx, e)) }
    Env(Some(projected), newBinds)
  }

  private[cypher] def containsAgg(e: Expr): Boolean = e match {
    case CountStar            => true
    case Func(n, args, _)     => aggFns(n) || args.exists(containsAgg)
    case BinOp(_, l, r)       => containsAgg(l) || containsAgg(r)
    case UnaryOp(_, o)        => containsAgg(o)
    case IsNull(o, _)         => containsAgg(o)
    case TypePredicate(o, _, _, _) => containsAgg(o)
    case HasLabel(o, _)       => containsAgg(o)
    case StringPred(_, l, r)  => containsAgg(l) || containsAgg(r)
    case CaseExpr(s, ws, d)   =>
      s.exists(containsAgg) || ws.exists(w => containsAgg(w._1) || containsAgg(w._2)) ||
        d.exists(containsAgg)
    case Index(l, i)          => containsAgg(l) || containsAgg(i)
    case Slice(l, f, t)       =>
      containsAgg(l) || f.exists(containsAgg) || t.exists(containsAgg)
    case ListLit(xs)          => xs.exists(containsAgg)
    case MapProjection(_, items) =>
      items.exists { case Right((_, e)) => containsAgg(e); case _ => false }
    case _                    => false
  }

  /** Output column name of a return item: explicit alias, else the raw
    * source text (reference semantics — `RETURN type(r)` names the column
    * `type(r)`), else a shape-derived fallback. Bare variables and simple
    * property reads use the normalized form (robust to backticks/spacing). */
  private def itemAlias(i: ReturnItem): String = i.alias.getOrElse(i.expr match {
    case Variable(v)          => v
    case Prop(Variable(v), k) => s"$v.$k"
    case CountStar            => "count(*)"
    // a map projection's implicit alias is its SUBJECT (reference: `RETURN
    // person {.name}` binds `person`) — never the source text
    case MapProjection(Variable(v), _) => v
    case _ => i.src.getOrElse(defaultAlias(i.expr))
  })

  private def defaultAlias(e: Expr): String = e match {
    // unaliased items surface under their source text (`RETURN n.prop` —
    // column header `n.prop`, what the TCK compares); dotted names are
    // legal Spark column names as long as later references backtick them
    case Variable(v)          => v
    case Prop(Variable(v), k) => s"$v.$k"
    case CountStar            => "count(*)"
    // a map projection's implicit alias is its subject variable
    case MapProjection(Variable(v), _) => v
    case Func(n, _, _)        => n
    case _                    => "expr"
  }

  private def constInt(ctx: Ctx, e: Expr): Int = constLong(ctx, e) match {
    // SKIP/LIMIT beyond Int.MaxValue clamps (a plan's offset/limit are
    // ints; a larger SKIP drops everything a 2^31-row result could hold,
    // so the clamp is observationally exact, not a truncation)
    case Some(l) =>
      if (l > Int.MaxValue) Int.MaxValue
      else if (l < Int.MinValue) Int.MinValue
      else l.toInt
    case None => throw new IllegalArgumentException(
      s"SKIP/LIMIT must be a constant-foldable expression: $e")
  }

  /** Constant-fold an integer expression (literals, parameters, the four
    * arithmetic operators, modulo and unary minus over them) — the
    * reference accepts arbitrary expressions
    * for SKIP/LIMIT (Limit takes an Expression, LogicalPlan.scala:2565);
    * a columnar plan needs the value at plan time, so anything that folds
    * to a constant is accepted (parameterized pagination included). */
  private def constLong(ctx: Ctx, e: Expr): Option[Long] = e match {
    case Lit(l: Long)    => Some(l)
    case Param(n)        => ctx.params.get(n).collect {
      // reference error contract (InvalidArgumentType): a floating-point
      // pagination parameter is rejected, not truncated
      case d: java.lang.Double => throw new IllegalArgumentException(
        s"SKIP/LIMIT: it must be an integer, not a float: $d")
      case f: java.lang.Float => throw new IllegalArgumentException(
        s"SKIP/LIMIT: it must be an integer, not a float: $f")
      case num: Number => num.longValue() }
    case UnaryOp("-", x) => constLong(ctx, x).map(-_)
    case BinOp(op, l, r) =>
      for {
        a <- constLong(ctx, l); b <- constLong(ctx, r)
        v <- op match {
          case "+" => Some(a + b)
          case "-" => Some(a - b)
          case "*" => Some(a * b)
          case "/" if b != 0 => Some(a / b)
          case "%" if b != 0 => Some(a % b)
          case _   => None
        }
      } yield v
    // any other VARIABLE-FREE expression (`LIMIT reduce(s=0, x IN [0,2] |
    // s+x)`, `SKIP size([1,2])` — reference SkipLimitAcceptance) folds by
    // plan-time evaluation over the unit relation: the reference's Limit
    // takes an arbitrary Expression evaluated once per query, which for a
    // closed expression is exactly a plan-time constant
    case other if exprVars(other).isEmpty && !containsAgg(other) &&
        !containsPatternExists(other) =>
      val row = unit(ctx.spark)
        .select(compile(ctx, Env(Some(unit(ctx.spark)), Map.empty), other)
          .as("__v")).collect()(0)
      row.get(0) match {
        case null => None
        case l: java.lang.Long => Some(l)
        case i: java.lang.Integer => Some(i.longValue)
        case d: java.lang.Double => throw new IllegalArgumentException(
          s"SKIP/LIMIT: it must be an integer, not a float: $d")
        case f: java.lang.Float => throw new IllegalArgumentException(
          s"SKIP/LIMIT: it must be an integer, not a float: $f")
        case _ => None
      }
    case _ => None
  }

  /** Lift both sides of a list concatenation into the orderability
    * encoding when their element types differ — one uniform encoded array.
    * None when an element type has no encoder (caller falls back). */
  private def liftedConcat(a: Column, ae: org.apache.spark.sql.types.DataType,
      b: Column, be: org.apache.spark.sql.types.DataType): Option[Column] = {
    val O = graft.functions.Orderability
    // nullability differences between independently-built encoded values
    // are erased by a cast to the canonical encoded DDL
    val canon = s"array<${O.encodedDdl}>"
    def lift(cc: Column, et: org.apache.spark.sql.types.DataType) =
      if (O.isEncoded(et)) Some(cc.cast(canon))
      else O.encoderAt(0, et).map(f => transform(cc, f).cast(canon))
    for { x <- lift(a, ae); y <- lift(b, be) } yield concat(x, y)
  }

  /** Pattern-inline property values must be constants or parameters. */
  private def constExpr(ctx: Ctx, e: Expr): Column = e match {
    case Lit(v)   => lit(v)
    case Param(n) => paramColumn(ctx, n)
    case other => throw new IllegalArgumentException(
      s"pattern property values must be literals or parameters, got $other")
  }

  /** `$n` as a value column: its slot when planning a template, else the
    * value. */
  private def paramColumn(ctx: Ctx, n: String): Column = (ctx.params match {
    case p: Params => p.slot(n)
    case _ => None
  }).getOrElse(litAny(ctx.params.getOrElse(n,
    throw new IllegalArgumentException(s"missing parameter $$$n"))))

  private def litAny(v: Any): Column = v match {
    case null       => lit(null)
    case s: Seq[_] if mixedParamList(s) =>
      // a mixed-typed list parameter (`$lhs = [1, 'two', 4]`): one Spark
      // array type can't hold it — lift every element into the
      // orderability encoding (cypher_compare and the result layer both
      // understand it)
      array(s.map(encodeParamElem): _*)
    case s: Seq[_]  => array(s.map(litAny): _*)
    case a: Array[_] if mixedParamList(a.toSeq) =>
      array(a.toSeq.map(encodeParamElem): _*)
    case a: Array[_] => array(a.toSeq.map(litAny): _*)
    case m: Map[_, _] =>
      // map parameter used as a value: STRUCT of its entries, matching the
      // properties() convention (maps are structs in the columnar engine)
      struct(m.toSeq.map { case (k, x) => litAny(x).as(k.toString) }: _*)
    case other      => lit(normNum(other))
  }

  /** does this parameter list mix value categories (string/bool/number/
    * list/map) beyond nulls? */
  private def mixedParamList(s: Seq[Any]): Boolean = {
    val kinds = s.collect {
      case _: String => 's'
      case _: java.lang.Boolean => 'b'
      case _: Number => 'n'
      case _: Seq[_] | _: Array[_] => 'l'
      case _: Map[_, _] => 'm'
    }
    kinds.distinct.size > 1
  }

  /** encode one mixed-list parameter element into the orderability
    * encoding at depth 0 */
  private def encodeParamElem(v: Any): Column = {
    val O = graft.functions.Orderability
    v match {
      case null => O.nullValue
      case s: String => O.string(lit(s))
      case b: java.lang.Boolean => O.boolean(lit(b.booleanValue))
      case n: Number => O.number(lit(normNum(n)))
      case s: Seq[_] =>
        if (s.isEmpty) O.listOfEncodedAt(0, O.emptyElems(0))
        else O.listOfEncodedAt(0, array(s.map(encodeParamElemAt(1)): _*))
      case other => O.string(lit(other.toString))
    }
  }
  private def encodeParamElemAt(depth: Int)(v: Any): Column = {
    val O = graft.functions.Orderability
    v match {
      case null => O.nullAt(depth)
      case s: String => O.stringAt(depth, lit(s))
      case b: java.lang.Boolean => O.booleanAt(depth, lit(b.booleanValue))
      case n: Number => O.numberAt(depth, lit(normNum(n)))
      case s: Seq[_] if depth < O.MaxDepth =>
        if (s.isEmpty) O.listOfEncodedAt(depth, O.emptyElems(depth))
        else O.listOfEncodedAt(depth,
          array(s.map(encodeParamElemAt(depth + 1)): _*))
      case other => O.stringAt(depth, lit(other.toString))
    }
  }

  /** Cypher integers are 64-bit and floats are doubles — narrow JVM
    * parameter types widen on entry (reference values module coercion). */
  private def normNum(v: Any): Any = v match {
    case i: Int    => i.toLong
    case s: Short  => s.toLong
    case b: Byte   => b.toLong
    case f: Float  => f.toDouble
    case other     => other
  }

  /** Map/list parameter → literal AST, so `$m` works anywhere a literal map
    * does (SET n += $m, MERGE {k: $m.key}, …). */
  private def anyToLitExpr(v: Any): Expr = v match {
    case null        => Lit(null)
    case s: Seq[_]   => ListLit(s.map(anyToLitExpr))
    case a: Array[_] => ListLit(a.toSeq.map(anyToLitExpr))
    case m: Map[_, _] =>
      MapLit(m.toSeq.map { case (k, x) => k.toString -> anyToLitExpr(x) })
    case other       => Lit(normNum(other))
  }

  // ---- expression compilation -------------------------------------------

  /** Element source for a lambda: when iterating `relationships(p)` /
    * `nodes(p)` and the enriched parallel array exists, zip ids with
    * types/labels so `type(r)` / `labels(x)` resolve per element. Returns
    * (list column, per-element lambda bindings, unwrap-to-raw-element). */
  private def elemIter(ctx: Ctx, env: Env, lambdas: Map[String, Column],
      v: String, l: Expr): (Column, Column => Map[String, Column],
        Option[Column => Column]) = {
    // (idsCol, labelsCol, propPrefix, isRel) when `l` is an enriched
    // entity-id source: nodes(p)/relationships(p) with hydrated parallel
    // arrays, or an entity-list variable with same
    def enrichedSrc(x: Expr): Option[(String, String, String, Boolean)] = {
      def check(base: String, ids: String, isRel: Boolean) = {
        val lb = if (isRel) s"$base$$reltypes" else s"$base$$nodelabels"
        val pp = if (isRel) s"$base$$relprop_" else s"$base$$nodeprop_"
        if (env.df.exists(df => df.columns.contains(lb) ||
            df.columns.exists(_.startsWith(pp))))
          Some((ids, lb, pp, isRel))
        else None
      }
      x match {
        case Func(f @ ("relationships" | "rels" | "nodes"),
            Seq(Variable(pv)), _) =>
          val isRel = f != "nodes"
          check(pv, if (isRel) s"$pv$$rels" else s"$pv$$nodes", isRel)
        case Variable(lv) => env.binds.get(lv) match {
          case Some(NodeListVar) => check(lv, lv, isRel = false)
          case Some(RelListVar)  => check(lv, lv, isRel = true)
          case _ => None
        }
        case _ => None
      }
    }
    l match {
    // reverse/tail over an enriched source: the zipped elements carry
    // their ORIGINAL position, so parallel-array lookups stay correct
    case Func("reverse", Seq(inner), _) if enrichedSrc(inner).isDefined =>
      val (lc, bind, unwrap) = elemIter(ctx, env, lambdas, v, inner)
      (reverse(lc), bind, unwrap)
    case Func("tail", Seq(inner), _) if enrichedSrc(inner).isDefined =>
      val (lc, bind, unwrap) = elemIter(ctx, env, lambdas, v, inner)
      (slice(lc, lit(2), greatest(size(lc) - 1, lit(0))), bind, unwrap)
    case src if enrichedSrc(src).isDefined =>
      // elements carry their POSITION so every enriched parallel array
      // (types/labels plus any per-property arrays) resolves per element
      val (idsCol, labelsCol, propPrefix, isRel) = enrichedSrc(src).get
      val df = env.df.get
      val propCols = df.columns.filter(_.startsWith(propPrefix)).toSeq.sorted
      val ids = col(idsCol)
      val listCol = when(size(ids) === 0,
          array().cast("array<struct<id:bigint,pos:int>>"))
        .otherwise(zip_with(ids, sequence(lit(0), size(ids) - 1),
          (i, p) => struct(i.as("id"), p.cast("int").as("pos"))))
      // lambda-bound columns cannot be typed by dataTypeOf (they reference
      // namedlambdavariable) — record each bound key's ELEMENT type as a
      // sentinel entry ("__type:<key>:<ddl>") so type-dispatched operators
      // (`+` concat-vs-add) resolve inside lambdas too
      val typeHints: Map[String, Column] = (propCols.flatMap { pc =>
        df.schema(pc).dataType match {
          case org.apache.spark.sql.types.ArrayType(et, _) =>
            Some(s"__type:$v$$${pc.stripPrefix(propPrefix)}:${et.sql}" -> lit(1))
          case _ => None
        }
      } ++ (if (df.columns.contains(labelsCol))
        df.schema(labelsCol).dataType match {
          case org.apache.spark.sql.types.ArrayType(et, _) =>
            Seq(s"__type:$v$$${if (isRel) "type" else "labels"}:${et.sql}" ->
              lit(1))
          case _ => Nil
        }
      else Nil)).toMap
      val bind: Column => Map[String, Column] = { x =>
        val pos1 = x.getField("pos") + 1
        Map(v -> x.getField("id")) ++ typeHints ++
          (if (df.columns.contains(labelsCol))
            Map(s"$v$$${if (isRel) "type" else "labels"}" ->
              element_at(col(labelsCol), pos1))
          else Map.empty) ++
          propCols.map(pc => s"$v$$${pc.stripPrefix(propPrefix)}" ->
            element_at(col(pc), pos1)).toMap
      }
      (listCol, bind, Some((x: Column) => x.getField("id")))
    case _ =>
      (compile(ctx, env, l, lambdas), x => Map(v -> x), None)
  } }

  private def compile(ctx: Ctx, env: Env, e: Expr,
      lambdas: Map[String, Column] = Map.empty): Column = {
    def c(x: Expr): Column = compile(ctx, env, x, lambdas)
    e match {
      case Lit(v)      => lit(v)
      case ListLit(xs) if isMixedLitList(xs) =>
        // mixed-type literal list (e.g. UNWIND [1,'a',true,null]): encode
        // every element as the orderability struct so a single Spark column
        // can hold it AND ORDER BY reproduces Cypher's cross-type global
        // order (SURVEY §4.3 sortable-encoding item; reference values
        // comparator). toString() decodes the display text.
        def encLit(depth: Int)(x: Expr): Column = {
          val O = graft.functions.Orderability
          x match {
            case Lit(null)       => O.nullAt(depth)
            case Lit(s: String)  => O.stringAt(depth, lit(s))
            case Lit(b: Boolean) => O.booleanAt(depth, lit(b))
            case ListLit(ys) if depth < O.MaxDepth =>
              if (ys.isEmpty) O.listOfEncodedAt(depth, O.emptyElems(depth))
              else O.listOfEncodedAt(depth,
                array(ys.map(encLit(depth + 1)): _*))
            case _: ListLit => throw new IllegalArgumentException(
              s"orderability encoding supports ${O.MaxDepth} nesting levels")
            case e => // non-literal element: encode by its STATIC type
              // (a string variable is a string, not a number)
              val cc = c(e)
              dataTypeOf(env, cc)
                .flatMap(dt => O.encoderAt(depth, dt)).map(_(cc))
                .getOrElse(O.numberAt(depth, cc))
          }
        }
        array(xs.map(encLit(0)): _*)
      case ListLit(xs) if xs.nonEmpty =>
        // general (non-literal) heterogeneous lists — `[partition, matches]`
        // mixing a string with a list column — can't share one Spark array
        // type: lift every element into the orderability encoding (same
        // scheme as mixed literal lists above). Homogeneous / numeric-only
        // mixes stay native.
        import org.apache.spark.sql.types._
        val cols = xs.map(c)
        val types = cols.map(cc => dataTypeOf(env, cc))
        lazy val nonNull = types.flatten.filter(_ != NullType).distinct
        def allNumeric = nonNull.forall(_.isInstanceOf[NumericType])
        // entity elements keep their ids: a heterogeneous list containing
        // one compiles to a marker-named struct (`__mix_<i>_<kind>`) the
        // result layer renders back as a list of entities/values
        def entKind(x: Expr): Option[String] = x match {
          case Variable(v) => env.binds.get(v) collect {
            case NodeVar     => "node"
            case RelVar      => "rel"
            case NodeListVar => "nodelist"
            case RelListVar  => "rellist"
            case PathVar     => "path"
          }
          // a literal list of SAME-KIND entity variables (`[n]`, `[r, r2]`)
          // compiles to a raw id array — as a mixed-list ELEMENT it is an
          // entity list, not a number list
          case ListLit(els) if els.nonEmpty =>
            val ks = els.map {
              case Variable(v) => env.binds.get(v) collect {
                case NodeVar => "node"; case RelVar => "rel" }
              case _ => None
            }
            if (ks.forall(_.contains("node"))) Some("nodelist")
            else if (ks.forall(_.contains("rel"))) Some("rellist")
            else None
          case _ => None
        }
        // entity elements force the encoding when kinds MIX (`[r, n]`,
        // `[n, 42]`) — a nested consumer could not tell ids from numbers
        // otherwise. A SAME-KIND entity list (`[a, b]` both nodes) stays a
        // raw id array: FOREACH/lambda machinery consumes those directly.
        lazy val entKinds = xs.map(entKind)
        lazy val allSameEntity = entKinds.forall(_.isDefined) &&
          entKinds.flatten.distinct.size == 1
        // entities nested inside literal maps/lists (`{k: n, l: 42}` —
        // reference UnwindAcceptance nested-type scenarios) encode at the
        // EXPR level: the column-level struct encoder would read a node id
        // as a NUMBER
        lazy val entInNested = xs.exists {
          def hasEnt(e: Expr): Boolean = e match {
            case Variable(v2) => env.binds.get(v2).exists {
              case NodeVar | RelVar | PathVar => true; case _ => false }
            case MapLit(es2)  => es2.exists(kv => hasEnt(kv._2))
            case ListLit(ys)  => ys.exists(hasEnt)
            case _            => false
          }
          x => (x.isInstanceOf[MapLit] || x.isInstanceOf[ListLit]) && hasEnt(x)
        }
        if (types.forall(_.isDefined) && !allSameEntity &&
            (xs.exists(x => entKind(x).isDefined) || entInNested ||
              (nonNull.size > 1 && !allNumeric))) {
          val O = graft.functions.Orderability
          // expr-level encoder for nested literal maps/lists holding
          // entities; None = defer to the column-level encoders below
          def exprEnc(depth: Int)(x: Expr): Option[Column] = x match {
            // entities are scalar payloads (id in `s`) — encodable at any
            // level incl. the scalar-only MaxDepth; containers need room
            // for their `l` payload one level down
            case Variable(v2) if env.binds.get(v2).contains(NodeVar) =>
              Some(O.nodeAt(depth, c(x)))
            case Variable(v2) if env.binds.get(v2).contains(RelVar) =>
              Some(O.relAt(depth, c(x)))
            case Variable(v2) if env.binds.get(v2).contains(PathVar) =>
              Some(O.pathAt(depth, c(x)))
            case _ if depth >= O.MaxDepth => None
            case MapLit(es2) =>
              val vals = es2.map { case (k, vx) =>
                exprEnc(depth + 1)(vx).orElse {
                  val cc = c(vx)
                  dataTypeOf(env, cc)
                    .flatMap(dt => O.encoderAt(depth + 1, dt)).map(_(cc))
                }.map(k -> _)
              }
              if (vals.forall(_.isDefined))
                Some(O.mapOfEncodedAt(depth, vals.flatten))
              else None
            case ListLit(ys) =>
              if (ys.isEmpty)
                Some(O.listOfEncodedAt(depth, O.emptyElems(depth)))
              else {
                val els = ys.map { y =>
                  exprEnc(depth + 1)(y).orElse {
                    val cc = c(y)
                    dataTypeOf(env, cc)
                      .flatMap(dt => O.encoderAt(depth + 1, dt)).map(_(cc))
                  }
                }
                if (els.forall(_.isDefined))
                  Some(O.listOfEncodedAt(depth, array(els.flatten: _*)))
                else None
              }
            case _ => None
          }
          if (xs.exists(x => entKind(x).isDefined) || entInNested) {
            // entities lift into the encoding with their kind's rank — one
            // uniform array a later UNWIND / head() / ORDER BY can consume;
            // the result layer resolves the entity ranks through the graph
            val enc = xs.zip(cols).zip(types).map { case ((x, cc), t) =>
              exprEnc(0)(x).orElse(entKind(x) match {
                case Some("node")     => Some(O.nodeAt(0, cc))
                case Some("rel")      => Some(O.relAt(0, cc))
                case Some("nodelist") => Some(O.listOfEncodedAt(0,
                  transform(cc, e => O.nodeAt(1, e))))
                case Some("rellist")  => Some(O.listOfEncodedAt(0,
                  transform(cc, e => O.relAt(1, e))))
                case Some("path")     => Some(O.pathAt(0, cc))
                case _ => t.flatMap(dt => O.encodeAny(dt, cc))
              })
            }
            if (enc.forall(_.isDefined)) array(enc.flatten: _*)
            else // unencodable residue: the legacy marker struct
              struct(xs.zip(cols).zipWithIndex.map { case ((x, cc), i) =>
                cc.as(s"__mix_${i}_${entKind(x).getOrElse("value")}") }: _*)
          } else {
            val enc = xs.zip(types.flatten).zip(cols).map {
              case ((x, dt), cc) => exprEnc(0)(x).orElse(O.encodeAny(dt, cc)) }
            if (enc.forall(_.isDefined)) array(enc.flatten: _*)
            else array(cols: _*)
          }
        } else array(cols: _*)
      case ListLit(xs) => array(xs.map(c): _*)
      case MapLit(es) if es.isEmpty => map()
      case MapLit(es) =>
        // homogeneous values → a real MapType; heterogeneous values (Cypher
        // maps are freely mixed, e.g. {name: 'x', age: 30}) can't share one
        // Spark map value type, so they compile to a named struct —
        // property access reads either via getItem
        val vals = es.map { case (k, v) => k -> c(v) }
        val types = vals.map { case (_, vc) => dataTypeOf(env, vc) }
        if (types.forall(_.isDefined) && types.flatten.distinct.size == 1)
          map(vals.flatMap { case (k, vc) => Seq(lit(k), vc) }: _*)
        else struct(vals.map { case (k, vc) => vc.as(k) }: _*)
      case Param(n)    => paramColumn(ctx, n)
      case Variable(v) =>
        lambdas.getOrElse(v,
          if (env.binds.get(v).contains(PathVar))
            // RETURN p — the path value (SURVEY §1.4: a path is
            // STRUCT{nodes, rels}); length carried for convenience
            struct(col(s"$v$$nodes").as("nodes"), col(s"$v$$rels").as("rels"),
              col(s"$v$$length").as("length"))
          else {
            require(env.has(v) || env.df.exists(_.columns.contains(v)),
              s"variable `$v` not defined")
            col(v)
          })
      case Prop(Variable(v), k) if lambdas.contains(s"$v$$$k") =>
        lambdas(s"$v$$$k") // enriched path-element property (elemIter)
      case Prop(Index(Func(f @ ("nodes" | "relationships" | "rels"),
          Seq(Variable(pv)), _), i), k)
          if env.df.exists(_.columns.contains(
            s"$pv$$${if (f == "nodes") "nodeprop_" else "relprop_"}$k")) =>
        val arr = col(
          s"$pv$$${if (f == "nodes") "nodeprop_" else "relprop_"}$k")
        val ic = c(i)
        try_element_at(arr, when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
      case Prop(Func(hl @ ("head" | "last"),
          Seq(Func(f @ ("nodes" | "relationships" | "rels"),
            Seq(Variable(pv)), _)), _), k)
          if env.df.exists(_.columns.contains(
            s"$pv$$${if (f == "nodes") "nodeprop_" else "relprop_"}$k")) =>
        val arr = col(
          s"$pv$$${if (f == "nodes") "nodeprop_" else "relprop_"}$k")
        try_element_at(arr, lit(if (hl == "head") 1 else -1))
      // head(reverse(x)).k ≡ last(x).k (and vice versa) — lets the
      // hydrated-parallel-array cases above/below fire through reverse()
      case Prop(Func(hl @ ("head" | "last"),
          Seq(Func("reverse", Seq(inner), _)), _), k) =>
        c(Prop(Func(if (hl == "head") "last" else "head", Seq(inner)), k))
      // entity-list variable element property: ns[i].k, head/last(ns).k
      // over the hydrated per-position property array
      case Prop(Index(Variable(lv), i), k) if env.binds.get(lv).exists(b =>
            b == NodeListVar || b == RelListVar) &&
          env.df.exists(_.columns.contains(s"$lv$$${if (env.binds(lv) ==
            RelListVar) "relprop_" else "nodeprop_"}$k")) =>
        val arr = col(s"$lv$$${if (env.binds(lv) == RelListVar) "relprop_"
          else "nodeprop_"}$k")
        val ic = c(i)
        try_element_at(arr, when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
      case Prop(Func(hl @ ("head" | "last"), Seq(Variable(lv)), _), k)
          if env.binds.get(lv).exists(b =>
            b == NodeListVar || b == RelListVar) &&
          env.df.exists(_.columns.contains(s"$lv$$${if (env.binds(lv) ==
            RelListVar) "relprop_" else "nodeprop_"}$k")) =>
        val arr = col(s"$lv$$${if (env.binds(lv) == RelListVar) "relprop_"
          else "nodeprop_"}$k")
        try_element_at(arr, lit(if (hl == "head") 1 else -1))
      case Prop(Variable(v), k) if env.has(v) &&
          (env.binds(v) == NodeVar || env.binds(v) == RelVar) =>
        val n = s"$v$$$k"
        if (env.df.exists(_.columns.contains(n))) col(n)
        else lit(null) // Cypher: missing property IS NULL
      case Prop(Param(n), k) =>
        // `$m.key` on a map parameter folds at plan time (values may be
        // heterogeneous, so no single Spark map type could hold them)
        ctx.params.getOrElse(n, throw new IllegalArgumentException(
          s"missing parameter $$$n")) match {
          case m: Map[_, _] =>
            litAny(m.asInstanceOf[Map[String, Any]].getOrElse(k, null))
          case other => throw new IllegalArgumentException(
            s"property access on non-map parameter $$$n ($other)")
        }
      case Prop(MapLit(es), k) =>
        es.find(_._1 == k).map(kv => c(kv._2)).getOrElse(lit(null))
      case Prop(Func(f @ ("startnode" | "endnode"), Seq(Variable(v)), _), k) =>
        // hydrated through the rel by expandHop (marker columns); a
        // property absent from the node schema IS NULL, but a REAL node
        // property whose marker never hydrated (rel bound by CREATE/MERGE
        // or a var-length leg) must fail loudly, not silently null out
        val n = s"$v$$${if (f == "startnode") "__sn_" else "__en_"}$k"
        if (env.df.exists(_.columns.contains(n))) col(n)
        else if (!ctx.g.nodes.columns.contains(propCol(k))) lit(null)
        else throw new IllegalArgumentException(
          s"$f($v).$k: endpoint properties hydrate for single-hop MATCH-bound " +
            "relationships only — bind the endpoint node in the pattern instead")
      case Prop(s, k)  =>
        val sc = c(s)
        // temporal component access (Cypher d.year / d.month / …) when the
        // subject is a DATE/TIMESTAMP value rather than an entity
        if (isTemporalTyped(env, sc))
          k.toLowerCase match {
            case "year" => year(sc).cast("long")
            case "month" => month(sc).cast("long")
            case "day" => dayofmonth(sc).cast("long")
            case "hour" => hour(sc).cast("long")
            case "minute" => minute(sc).cast("long")
            case "second" => second(sc).cast("long")
            case "week" => weekofyear(sc).cast("long")
            // Cypher dayOfWeek is ISO-8601 (Monday=1..Sunday=7); Spark's
            // dayofweek() is Sunday=1 — weekday() is Monday=0, so +1
            case "dayofweek" => (weekday(sc) + 1).cast("long")
            case "ordinalday" => dayofyear(sc).cast("long")
            case "quarter" => quarter(sc).cast("long")
            case _ => sc.getItem(k)
          }
        else if (isDurationType(dataTypeOf(env, sc)))
          // duration accessors (reference DurationValue.get / TemporalFields):
          // derived components WITHIN each group — groups never convert
          // into each other (a day is not always 24h under DST)
          k.toLowerCase match {
            case "years"    => (sc.getItem("months") / 12).cast("long")
            case "quarters" => (sc.getItem("months") / 3).cast("long")
            case "months"   => sc.getItem("months")
            case "monthsofyear"    => sc.getItem("months") % 12
            case "monthsofquarter" => sc.getItem("months") % 3
            case "quartersofyear"  => (sc.getItem("months") / 3).cast("long") % 4
            case "weeks"    => (sc.getItem("days") / 7).cast("long")
            case "days"     => sc.getItem("days")
            case "daysofweek" => sc.getItem("days") % 7
            case "hours"    => (sc.getItem("seconds") / 3600).cast("long")
            case "minutes"  => (sc.getItem("seconds") / 60).cast("long")
            case "seconds"  => sc.getItem("seconds")
            case "minutesofhour"   => (sc.getItem("seconds") / 60).cast("long") % 60
            case "secondsofminute" => sc.getItem("seconds") % 60
            case "milliseconds" =>
              sc.getItem("seconds") * 1000 + (sc.getItem("nanos") / 1000000).cast("long")
            case "microseconds" =>
              sc.getItem("seconds") * 1000000L + (sc.getItem("nanos") / 1000).cast("long")
            case "nanoseconds" =>
              sc.getItem("seconds") * 1000000000L + sc.getItem("nanos")
            case "millisecondsofsecond" => (sc.getItem("nanos") / 1000000).cast("long")
            case "microsecondsofsecond" => (sc.getItem("nanos") / 1000).cast("long")
            case "nanosecondsofsecond"  => sc.getItem("nanos")
            case _ => sc.getItem(k)
          }
        else dataTypeOf(env, sc) match {
          // Cypher maps are open: `m.other` over a map without the key is
          // NULL (reference MapValue.get), but the columnar map compiles
          // to a named struct, whose field access is a compile-time error
          // — resolve the miss to NULL here; a NULL subject propagates
          case Some(st: org.apache.spark.sql.types.StructType)
              if !st.fieldNames.contains(k) &&
                !graft.functions.Orderability.isEncoded(st) &&
                !st.fieldNames.sameElements(
                  graft.functions.Orderability.PathStructFields) =>
            lit(null)
          case Some(org.apache.spark.sql.types.NullType) => lit(null)
          // a SCALAR-typed DERIVED subject (`m.other.name` where m.other is
          // a map miss typed by the map's value column): the runtime value
          // is NULL on the reference's accepted inputs — propagate NULL.
          // A scalar VARIABLE subject (`WITH 1 AS x RETURN x.prop`) keeps
          // the reference's type error (getItem fails analysis loudly).
          case Some(t) if (s.isInstanceOf[Prop] || s.isInstanceOf[Index]) &&
              (t == org.apache.spark.sql.types.StringType ||
                t == org.apache.spark.sql.types.BooleanType ||
                t.isInstanceOf[org.apache.spark.sql.types.NumericType]) =>
            lit(null)
          case _ => sc.getItem(k)
        }
      case CountStar   => count(lit(1))
      case Func(name, args, distinct) => compileFunc(ctx, env, name, args, distinct, lambdas)
      case BinOp(op, l, r) =>
        // a variant-encoded operand (dynamic property access / mixed
        // column) in arithmetic: decode the number payload, compute, and
        // re-encode — INTEGER-ness rides on repr so `n[k] + 1` stays an
        // integer when the property is one (reference Add.java dispatches
        // on the runtime type)
        def encArith(): Option[Column] = {
          if (!Set("+", "-", "*", "/", "%", "^").contains(op)) return None
          val O = graft.functions.Orderability
          val (lc, rc) = (c(l), c(r))
          val (lt, rt) = (dataTypeOf(env, lc), dataTypeOf(env, rc))
          def enc(t: Option[org.apache.spark.sql.types.DataType]) =
            t.exists(O.isEncoded)
          if (!enc(lt) && !enc(rt)) return None
          import org.apache.spark.sql.types._
          def d(cc: Column, t: Option[DataType]) =
            if (enc(t)) cc.getField("d") else cc.cast("double")
          def sRepr(cc: Column, t: Option[DataType]) =
            if (enc(t)) cc.getField("repr") else cc.cast("string")
          def isStr(cc: Column, t: Option[DataType]) =
            if (enc(t)) cc.getField("rank") === lit(O.RankString)
            else lit(t.contains(StringType))
          def isInt(cc: Column, t: Option[DataType]) =
            if (enc(t)) cc.getField("rank") === lit(O.RankNumber) &&
              cc.getField("repr").rlike("^-?[0-9]+$")
            else lit(t.exists {
              case LongType | IntegerType | ShortType | ByteType => true
              case _ => false })
          val (dl, dr) = (d(lc, lt), d(rc, rt))
          val bothInt = isInt(lc, lt) && isInt(rc, rt)
          val numeric = op match {
            case "+" => when(bothInt, O.numberAt(0, (dl + dr).cast("long")))
              .otherwise(O.numberAt(0, dl + dr))
            case "-" => when(bothInt, O.numberAt(0, (dl - dr).cast("long")))
              .otherwise(O.numberAt(0, dl - dr))
            case "*" => when(bothInt, O.numberAt(0, (dl * dr).cast("long")))
              .otherwise(O.numberAt(0, dl * dr))
            case "%" => when(bothInt, O.numberAt(0, (dl % dr).cast("long")))
              .otherwise(O.numberAt(0, dl % dr))
            case "^" => O.numberAt(0, pow(dl, dr))
            case "/" => when(bothInt, O.numberAt(0,
                call_function("div", dl.cast("long"), dr.cast("long"))))
              .otherwise(O.numberAt(0,
                when(dr === 0.0,
                  when(isnan(dl), lit(Double.NaN))
                    .when(dl > 0.0, lit(Double.PositiveInfinity))
                    .when(dl < 0.0, lit(Double.NegativeInfinity))
                    .otherwise(lit(Double.NaN)))
                  .otherwise(dl / dr)))
          }
          // `+` with a STRING operand is concatenation, like the reference
          val full = if (op == "+")
            when(isStr(lc, lt) || isStr(rc, rt),
              O.stringAt(0, concat(sRepr(lc, lt), sRepr(rc, rt))))
              .otherwise(numeric)
          else numeric
          Some(when(lc.isNull || rc.isNull, O.nullValue).otherwise(full))
        }
        encArith().getOrElse(op match {
        // `+` is type-dispatched like the reference's Add (runtime
        // commands/expressions/Add.scala): numeric add, string concat
        // ('a'+1 = 'a1'), list concat/append/prepend, temporal + duration.
        case "+" =>
          val (lc, rc) = (c(l), c(r))
          import org.apache.spark.sql.types._
          // AST-level fallback for lambda-bound operands (dataTypeOf cannot
          // select a column referencing namedlambdavariable): literal types
          // plus the "__type:<key>:<ddl>" sentinels recorded by elemIter /
          // Reduce
          def hintType(key: String): Option[DataType] = {
            val p = s"__type:$key:"
            lambdas.keys.collectFirst { case s if s.startsWith(p) =>
              scala.util.Try(DataType.fromDDL(s.drop(p.length))).toOption
            }.flatten
          }
          def astType(x: Expr): Option[DataType] = x match {
            case Lit(_: String)  => Some(StringType)
            case Lit(_: Boolean) => Some(BooleanType)
            case Lit(_: Int) | Lit(_: Long) => Some(LongType)
            case Lit(_: Double)  => Some(DoubleType)
            case Variable(vv) if lambdas.contains(vv) => hintType(vv)
            case Prop(Variable(vv), kk) if lambdas.contains(s"$vv$$$kk") =>
              hintType(s"$vv$$$kk")
            case Func("labels", Seq(Variable(vv)), _)
                if lambdas.contains(s"$vv$$labels") => hintType(s"$vv$$labels")
            case Func("type", Seq(Variable(vv)), _)
                if lambdas.contains(s"$vv$$type") => hintType(s"$vv$$type")
            case Index(b, _) => astType(b).collect {
              case ArrayType(et, _) => et }
            case Func("tostring", _, _) => Some(StringType)
            case BinOp("+", a, b) => (astType(a), astType(b)) match {
              case (Some(StringType), _) | (_, Some(StringType)) =>
                Some(StringType)
              case _ => None
            }
            case _ => None
          }
          val (lt, rt) = (dataTypeOf(env, lc).orElse(astType(l)),
            dataTypeOf(env, rc).orElse(astType(r)))
          (lt, rt) match {
            // LIST + anything is list concatenation in Cypher (a non-list
            // operand appends/prepends as one element — `[1] + 'a'` is
            // [1, 'a'], NOT string concat), so array cases come FIRST.
            // Mismatched element types (`collected + [[1], ['s', 1]]`,
            // `[1] + 'a'`) lift both sides into the orderability encoding
            // — one uniform array any downstream consumer handles.
            case (Some(ArrayType(le, _)), Some(ArrayType(re, _)))
                if le != re =>
              liftedConcat(lc, le, rc, re).getOrElse(concat(lc, rc))
            case (Some(_: ArrayType), Some(_: ArrayType)) => concat(lc, rc)
            case (Some(ArrayType(le, _)), Some(rt0)) =>
              if (le == rt0) concat(lc, array(rc))
              else liftedConcat(lc, le, array(rc), rt0)
                .getOrElse(concat(lc, array(rc)))
            case (Some(lt0), Some(ArrayType(re, _)))
                if !isDurationType(lt) =>
              if (lt0 == re) concat(array(lc), rc)
              else liftedConcat(array(lc), lt0, rc, re)
                .getOrElse(concat(array(lc), rc))
            case (Some(StringType), Some(StringType)) => concat(lc, rc)
            case (Some(StringType), Some(_)) => concat(lc, rc.cast("string"))
            case (Some(_), Some(StringType)) => concat(lc.cast("string"), rc)
            case _ if isDurationType(lt) && isDurationType(rt) =>
              graft.functions.Durations.plus(lc, rc)
            case (Some(DateType), _) if isDurationType(rt) =>
              graft.functions.Durations.addToDate(lc, rc)
            case (_, Some(DateType)) if isDurationType(lt) =>
              graft.functions.Durations.addToDate(rc, lc)
            case (Some(TimestampType | TimestampNTZType), _) if isDurationType(rt) =>
              graft.functions.Durations.addToTimestamp(lc, rc)
            case (_, Some(TimestampType | TimestampNTZType)) if isDurationType(lt) =>
              graft.functions.Durations.addToTimestamp(rc, lc)
            case _ => lc + rc
          }
        case "||" => // Cypher 5 string/list concatenation — NO implicit
          // coercion (reference error contract: `"a" || 3` and `1 || 3`
          // are compile-time errors, only STRING||STRING and LIST||LIST)
          val (lc, rc) = (c(l), c(r))
          import org.apache.spark.sql.types._
          val (lt2, rt2) = (dataTypeOf(env, lc), dataTypeOf(env, rc))
          Seq(lt2, rt2).flatten.foreach {
            case _: NumericType | BooleanType =>
              throw new IllegalArgumentException(
                "|| concatenation takes STRING or LIST operands — " +
                  "numbers are not implicitly coerced")
            case _ => ()
          }
          // a NULL operand makes the concatenation NULL, typed like the
          // other side (Spark would coerce the untyped null to STRING and
          // reject STRING||ARRAY)
          if (lt2.contains(NullType)) lit(null).cast(rt2.getOrElse(NullType))
          else if (rt2.contains(NullType))
            lit(null).cast(lt2.getOrElse(NullType))
          else (lt2, rt2) match {
            // mixed-element-type LIST || LIST lifts into the encoding,
            // like `+` concatenation above
            case (Some(ArrayType(le, _)), Some(ArrayType(re, _)))
                if le != re =>
              liftedConcat(lc, le, rc, re).getOrElse(concat(lc, rc))
            case _ => concat(lc, rc)
          }
        case "-" =>
          val (lc, rc) = (c(l), c(r))
          val (lt, rt) = (dataTypeOf(env, lc), dataTypeOf(env, rc))
          import org.apache.spark.sql.types._
          (lt, rt) match {
            case _ if isDurationType(lt) && isDurationType(rt) =>
              graft.functions.Durations.minus(lc, rc)
            case (Some(DateType), _) if isDurationType(rt) =>
              graft.functions.Durations.addToDate(lc,
                graft.functions.Durations.times(rc, lit(-1L)))
            case (Some(TimestampType | TimestampNTZType), _) if isDurationType(rt) =>
              graft.functions.Durations.addToTimestamp(lc,
                graft.functions.Durations.times(rc, lit(-1L)))
            case _ => lc - rc
          }
        case "*" =>
          val (lc, rc) = (c(l), c(r))
          val (lt, rt) = (dataTypeOf(env, lc), dataTypeOf(env, rc))
          if (isDurationType(lt)) graft.functions.Durations.times(lc, rc)
          else if (isDurationType(rt)) graft.functions.Durations.times(rc, lc)
          else lc * rc
        case "/" =>
          val (lc, rc) = (c(l), c(r))
          if (isDurationType(dataTypeOf(env, lc)))
            graft.functions.Durations.times(lc, lit(1.0) / rc)
          else {
            // Cypher `/` on two integers is INTEGER division (reference
            // Divide.java: 10/3 = 3, truncates toward zero, errors on /0).
            // Spark's `/` casts to double (inexact past 2^53), so use the
            // built-in `div` (IntegralDivide): exact 64-bit long division
            // that truncates toward zero and raises DIVIDE_BY_ZERO under
            // ANSI — never a silent Long.MaxValue.
            import org.apache.spark.sql.types._
            def integral(t: Option[DataType]) = t.exists {
              case LongType | IntegerType | ShortType | ByteType => true
              case _ => false
            }
            val (ltd, rtd) = (dataTypeOf(env, lc), dataTypeOf(env, rc))
            if (integral(ltd) && integral(rtd))
              call_function("div", lc, rc)
            else if (ltd.contains(DoubleType) || ltd.contains(FloatType) ||
                rtd.contains(DoubleType) || rtd.contains(FloatType)) {
              // FLOAT division follows IEEE 754 (reference DivideExpression
              // over FloatingPointValue): x/0.0 is ±Infinity, 0.0/0.0 is
              // NaN — never an error. Spark ANSI raises DIVIDE_BY_ZERO, so
              // special-case the zero divisor.
              val dl = lc.cast("double")
              val dr = rc.cast("double")
              when(dl.isNull || dr.isNull, lit(null).cast("double"))
                .when(dr === 0.0,
                  when(isnan(dl), lit(Double.NaN))
                    .when(dl > 0.0, lit(Double.PositiveInfinity))
                    .when(dl < 0.0, lit(Double.NegativeInfinity))
                    .otherwise(lit(Double.NaN)))
                .otherwise(dl / dr)
            }
            else lc / rc
          }
        case "%"  => c(l) % c(r)
        case "^"  => pow(c(l), c(r))
        case cmpOp @ ("=" | "<>" | "<" | "<=" | ">" | ">=") =>
          // Cypher TERNARY comparison: structured values (lists, maps,
          // durations, points) and cross-category operands follow the
          // reference's three-valued semantics (CypherCompare expression);
          // atomic same-category comparisons stay on Spark's codegen'd
          // native operators — the hot path is unchanged.
          val (lc, rc) = (c(l), c(r))
          val (lt, rt) = (dataTypeOf(env, lc), dataTypeOf(env, rc))
          import org.apache.spark.sql.types._
          def structured(t: Option[DataType]) = t.exists {
            case _: ArrayType | _: StructType | _: MapType => true
            case _ => false
          }
          def atomicCat(dt: DataType): Option[Int] = dt match {
            case _: NumericType => Some(1)
            case StringType => Some(2)
            case BooleanType => Some(3)
            case DateType => Some(4)
            case TimestampType => Some(5)
            case TimestampNTZType => Some(6)
            case _ => None
          }
          val sameAtomic = (lt, rt) match {
            case (Some(a), Some(b)) =>
              val (ca, cb) = (atomicCat(a), atomicCat(b))
              ca.isDefined && ca == cb
            case _ => true // unresolved side: keep the native operator
          }
          if (sameAtomic && !structured(lt) && !structured(rt)) {
            // IEEE 754 NaN semantics (reference AnyValue comparison for
            // floats): every comparison with NaN is false, except `<>`
            // which is true. Spark's native operators treat NaN = NaN as
            // TRUE and order NaN largest — guard double-typed operands.
            // The guard composes as a CONJUNCTION with the native operator
            // (never a CASE around it) so the native predicate still
            // pushes down to the parquet scan; the !isnan conjunct simply
            // stays above as a residual filter.
            val notNaN = Seq(lt -> lc, rt -> rc).collect {
              case (Some(DoubleType | FloatType), cc) => !isnan(cc)
            }.reduceOption(_ && _)
            val isNaN = Seq(lt -> lc, rt -> rc).collect {
              case (Some(DoubleType | FloatType), cc) => isnan(cc)
            }.reduceOption(_ || _)
            def g(native: Column): Column =
              notNaN.fold(native)(native && _)
            cmpOp match {
              case "="  => g(lc === rc)
              case "<>" => isNaN.fold(lc =!= rc)((lc =!= rc) || _)
              case "<"  => g(lc < rc)
              case "<=" => g(lc <= rc)
              case ">"  => g(lc > rc)
              case ">=" => g(lc >= rc)
            }
          } else {
            graft.functions.expressions.CypherCompare.ensureRegistered(ctx.spark)
            call_function("cypher_compare", lc, rc, lit(cmpOp))
          }
        case "AND" | "OR" | "XOR" =>
          // a LIST operand in boolean position coerces to its
          // non-emptiness (reference CoerceToPredicate: [] is false,
          // any non-empty list is true — `true AND $emptyList` = false)
          def asBool(x: Expr): Column = {
            val cc = c(x)
            dataTypeOf(env, cc) match {
              case Some(_: org.apache.spark.sql.types.ArrayType) =>
                size(cc) > 0
              case _ => cc
            }
          }
          op match {
            case "AND" => asBool(l) && asBool(r)
            case "OR"  => asBool(l) || asBool(r)
            case _     => asBool(l) =!= asBool(r) // XOR with 3-valued NULL
          }
        case "IN"  => r match {
          case ListLit(items) if items.forall(_.isInstanceOf[Lit]) =>
            c(l).isin(items.map { case Lit(v) => v }: _*)
          case _ => array_contains(c(r), c(l))
        }
      })
      case UnaryOp("NOT", o) => !c(o)
      case UnaryOp("-", o)   => negate(c(o))
      case UnaryOp(op, _)    => throw new IllegalArgumentException(s"unary $op")
      case IsNull(o, neg)    => if (neg) c(o).isNotNull else c(o).isNull
      case HasLabel(subject, dnf) =>
        // label-expression predicate: over a node variable it tests the
        // hydrated labels array; over a RELATIONSHIP variable `r:X` is a
        // type test (reference HasTypes — a rel has exactly one type)
        subject match {
          // `a:A:B` parses as nested label predicates (each postfix `:L`
          // wraps the previous) — a colon CONJUNCTION over one subject
          case inner @ HasLabel(s0, _) =>
            c(inner) && c(HasLabel(s0, dnf))
          // lambda-bound path/list element (`none(rel IN r WHERE rel:X)`):
          // the per-element type/labels resolve via the enriched arrays
          case Variable(v) if lambdas.contains(s"$v$$type") =>
            val typeCol = lambdas(s"$v$$type")
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") typeCol.isNotNull
                  else typeCol === a.name
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          case Variable(v) if lambdas.contains(s"$v$$labels") =>
            val labelsCol = lambdas(s"$v$$labels")
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") size(labelsCol) > 0
                  else array_contains(labelsCol, a.name)
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          case Variable(v) if env.has(v) && env.binds(v) == RelVar =>
            val typeCol = col(s"$v$$type")
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") typeCol.isNotNull
                  else typeCol === a.name
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          case Variable(v) if env.has(v) =>
            val labelsCol = col(s"$v$$labels")
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") size(labelsCol) > 0
                  else array_contains(labelsCol, a.name)
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          // path-element label/type tests outside lambdas
          // (`last(nodes(p)):End`, `relationships(p)[0]:T`) read the
          // hydrated per-position parallel arrays
          case Func(hl @ ("head" | "last"),
              Seq(Func("nodes", Seq(Variable(pv)), _)), _)
              if env.df.exists(_.columns.contains(s"$pv$$nodelabels")) =>
            val labelsCol = element_at(col(s"$pv$$nodelabels"),
              if (hl == "head") 1 else -1)
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") size(labelsCol) > 0
                  else array_contains(labelsCol, a.name)
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          case Index(Func("nodes", Seq(Variable(pv)), _), i)
              if env.df.exists(_.columns.contains(s"$pv$$nodelabels")) =>
            val ic = c(i)
            val labelsCol = try_element_at(col(s"$pv$$nodelabels"),
              when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") size(labelsCol) > 0
                  else array_contains(labelsCol, a.name)
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          case Func(hl @ ("head" | "last"),
              Seq(Func("relationships" | "rels", Seq(Variable(pv)), _)), _)
              if env.df.exists(_.columns.contains(s"$pv$$reltypes")) =>
            val typeCol = element_at(col(s"$pv$$reltypes"),
              if (hl == "head") 1 else -1)
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") typeCol.isNotNull
                  else typeCol === a.name
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          case Index(Func("relationships" | "rels",
              Seq(Variable(pv)), _), i)
              if env.df.exists(_.columns.contains(s"$pv$$reltypes")) =>
            val ic = c(i)
            val typeCol = try_element_at(col(s"$pv$$reltypes"),
              when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
            dnf.map { conj =>
              conj.map { a =>
                val t = if (a.name == "%") typeCol.isNotNull
                  else typeCol === a.name
                if (a.negated) !t else t
              }.reduce(_ && _)
            }.reduce(_ || _)
          case other => throw new IllegalArgumentException(
            s"label predicate needs a bound node variable, got $other")
        }
      case TypePredicate(o, t, notNull, neg) =>
        // schema types are static in a columnar engine, so the type test
        // folds to a constant; only the NULL split is evaluated per row
        // (reference TypePredicateExpression: NULL IS :: T is true unless
        // the spec says NOT NULL)
        val sc = c(o)
        val matches = env.df.map(_.select(sc).schema.head.dataType)
          .exists(dt => sparkTypeSatisfies(dt, t))
        val base =
          if (notNull) sc.isNotNull && lit(matches)
          else when(sc.isNull, lit(true)).otherwise(lit(matches))
        if (neg) !base else base
      case StringPred(op, l, r) => op match {
        case "STARTS WITH" => c(l).startsWith(c(r))
        case "ENDS WITH"   => c(l).endsWith(c(r))
        case "CONTAINS"    => c(l).contains(c(r))
        case "=~" => r match {
          // Cypher `=~` is full-match anchored (java.util.regex matches()),
          // Spark rlike is find(): anchor explicitly. A non-literal
          // pattern (parameter, column, concatenation) anchors the same
          // way through regexp_like's column-pattern form.
          case Lit(p: String) => c(l).rlike("^(?:" + p + ")$")
          case _ =>
            regexp_like(c(l), concat(lit("^(?:"), c(r), lit(")$")))
        }
      }
      case CaseExpr(subject, whens, default) =>
        val conds = subject match {
          case Some(s) => whens.map { case (w, _) => c(s) === c(w) }
          case None    => whens.map { case (w, _) => c(w) }
        }
        val vals = (whens.map(_._2) ++ default.toSeq).map(c)
        // Cypher CASE may return a DIFFERENT type per branch (reference
        // values are dynamically typed); a Spark column cannot. When the
        // branch types mix among string/boolean/number, encode every
        // branch as the orderability struct — the same single-column
        // representation mixed literal lists use — so the CASE result
        // still sorts in Cypher's global order and toString() decodes.
        import org.apache.spark.sql.types._
        def kind(dt: DataType): Option[String] = dt match {
          case StringType  => Some("str")
          case BooleanType => Some("bool")
          // INTEGER and FLOAT are DISTINCT dynamic kinds (reference: a
          // CASE taking the INTEGER branch returns an INTEGER — Spark's
          // coercion to one numeric type would widen 1 to 1.0,
          // CaseExpression "Case should handle mixed number types")
          case LongType | IntegerType | ShortType | ByteType => Some("int")
          case DoubleType | FloatType | _: DecimalType => Some("float")
          case t @ ArrayType(_, _)
            if graft.functions.Orderability.encoderAt(0, t).isDefined =>
            Some("list")
          case t: StructType
            if t.fieldNames.toSeq == graft.functions.Orderability.DurationFields =>
            Some("dur")
          case t: StructType
            if t.fieldNames.toSeq == graft.functions.Orderability.PointFields =>
            Some("point")
          case t @ (_: MapType | _: StructType)
            if graft.functions.Orderability.encoderAt(0, t).isDefined =>
            Some("map")
          case DateType | TimestampType | TimestampNTZType => Some("temporal")
          case NullType    => None // null literal: compatible with any kind
          case other       => Some(other.simpleString)
        }
        val kinds = vals.flatMap(v => dataTypeOf(env, v)).flatMap(kind).distinct
        val mixedEncodable = kinds.size > 1 &&
          kinds.forall(Set("str", "bool", "int", "float", "list", "map",
            "dur", "point", "temporal"))
        def encode(v: Column): Column =
          dataTypeOf(env, v).flatMap(dt =>
            graft.functions.Orderability.encodeAny(dt, v))
            .getOrElse(graft.functions.Orderability.nullValue)
        val branchVals = if (mixedEncodable) vals.map(encode) else vals
        val branches = conds.zip(branchVals)
        val start = when(branches.head._1, branches.head._2)
        val chained = branches.tail.foldLeft(start) { case (acc, (p, v)) => acc.when(p, v) }
        if (default.isDefined) chained.otherwise(branchVals.last)
        else if (mixedEncodable)
          chained.otherwise(graft.functions.Orderability.nullValue)
        else chained
      case Index(Variable(v), i) if env.has(v) &&
          (env.binds(v) == NodeVar || env.binds(v) == RelVar) =>
        // dynamic property access n[key] — key must be resolvable at plan
        // time (literal or parameter); columns are static in a columnar
        // engine, so a truly per-row dynamic key has no hydration to read
        val key: Option[String] = i match {
          case Lit(k: String) => Some(k)
          case Param(p) => ctx.params.getOrElse(p,
            throw new IllegalArgumentException(s"missing parameter $$$p")) match {
            case k: String => Some(k)
            case other => throw new IllegalArgumentException(
              s"dynamic property key must be a string, got $other")
          }
          case _ => None // truly per-row key: dispatch over hydrated columns
        }
        key match {
          case Some(k) => c(Prop(Variable(v), k))
          case None =>
            // per-row dynamic key: a when-chain over the variable's
            // hydrated property columns (the needs pre-walk hydrated `*`);
            // an absent key is NULL, like the reference. Branches carry
            // different native types, so each is routed through the
            // Orderability variant struct (same as mixed columns/CASE) —
            // downstream comparisons/arithmetic then dispatch on the real
            // type instead of a lossy string cast.
            val O = graft.functions.Orderability
            val keyC = c(i).cast("string")
            val schema = env.df.map(_.schema)
            val hydratedCols = env.df.toSeq.flatMap(_.columns)
              .filter(_.startsWith(s"$v$$"))
              .filterNot(_ == s"$v$$labels").filterNot(_ == s"$v$$type")
            val types = hydratedCols.flatMap(hc => schema.map(_(hc).dataType))
            if (types.distinct.size == 1)
              // homogeneous properties: dispatch in the native type —
              // downstream arithmetic/comparison stays on codegen'd ops
              hydratedCols.foldLeft(lit(null).cast(types.head)) { (acc, hc) =>
                when(keyC === lit(graft.graph.PropertyGraph.colProp(
                  hc.stripPrefix(s"$v$$"))), col(hc)).otherwise(acc)
              }
            else
              hydratedCols.foldLeft(O.nullValue) { (acc, hc) =>
                val enc = schema.map(_(hc).dataType)
                  .flatMap(dt => O.encodeAny(dt, col(hc)))
                  .getOrElse(O.nullValue)
                when(keyC === lit(graft.graph.PropertyGraph.colProp(
                  hc.stripPrefix(s"$v$$"))), enc)
                  .otherwise(acc)
              }
        }
      case Index(l, i) =>
        val ic = c(i)
        val lc = c(l)
        import org.apache.spark.sql.types._
        // a NULL index (or NULL collection) is NULL, never a type error
        if (dataTypeOf(env, ic).contains(NullType) ||
            dataTypeOf(env, lc).contains(NullType))
          lit(null)
        else dataTypeOf(env, lc) match {
          case Some(MapType(kt, _, _)) =>
            // map access takes the key AS IS (a numeric index would be a
            // type error in the reference; try_cast yields NULL instead)
            try_element_at(lc, ic.try_cast(kt.sql))
          case Some(st: StructType) =>
            // struct-backed heterogeneous map: static key lookup; a key
            // the map does not carry is NULL, not an analysis error
            i match {
              case Lit(k: String) =>
                if (st.fieldNames.contains(k)) lc.getField(k) else lit(null)
              case Param(pn) => ctx.params.get(pn) match {
                case Some(k: String) if st.fieldNames.contains(k) =>
                  lc.getField(k)
                case _ => lit(null)
              }
              case _ => lit(null)
            }
          case _ =>
            // Cypher 0-based; negative = from end (element_at is
            // 1-based/±); out-of-bounds is null, not an error
            try_element_at(lc,
              when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
        }
      case Slice(l, f, t) =>
        val lc = c(l)
        val n = size(lc)
        // Cypher slice indices: 0-based half-open, NEGATIVE counts from the
        // end, out-of-range clamps (never errors)
        def norm(e: Column): Column = {
          val i = e.cast("int")
          when(i < 0, greatest(i + n, lit(0))).otherwise(least(i, n))
        }
        val fromRaw = f.map(c).getOrElse(lit(0))
        val toRaw = t.map(c).getOrElse(n.cast("long"))
        val from = norm(fromRaw)
        val to = norm(toRaw)
        // a null bound nulls the whole slice (reference ListSlice semantics)
        when(fromRaw.isNull || toRaw.isNull, lit(null))
          .otherwise(slice(lc, from + 1, greatest(to - from, lit(0))))
      case IterPredicate(kind, v, l, pred) =>
        val (lc, bind, _) = elemIter(ctx, env, lambdas, v, l)
        val p: Column => Column = x => compile(ctx, env, pred, lambdas ++ bind(x))
        kind match {
          case "all"    => forall(lc, p)
          case "any"    => exists(lc, p)
          case "none"   => !exists(lc, p)
          case "single" => size(filter(lc, p)) === 1
        }
      case Reduce(acc, init, v, l, step) =>
        val (lc, bind, _) = elemIter(ctx, env, lambdas, v, l)
        val initC = c(init)
        // the accumulator's type is the init's type (Spark aggregate()
        // requires the merge lambda to return it) — hint it so `acc + x`
        // dispatches to concat for string accumulators
        val accHint = dataTypeOf(env, initC)
          .map(dt => s"__type:$acc:${dt.sql}" -> lit(1)).toMap
        aggregate(lc, initC, (a, x) =>
          compile(ctx, env, step, lambdas + (acc -> a) ++ accHint ++ bind(x)))
      case ListComprehension(v, l, where, proj) =>
        val (lc0, bind, unwrap) = elemIter(ctx, env, lambdas, v, l)
        var listCol = lc0
        where.foreach { w =>
          listCol = filter(listCol, x => compile(ctx, env, w, lambdas ++ bind(x)))
        }
        proj match {
          case Some(p) =>
            listCol = transform(listCol,
              x => compile(ctx, env, p, lambdas ++ bind(x)))
          case None =>
            // no projection: yield the raw element, not the zipped struct
            unwrap.foreach(u => listCol = transform(listCol, u))
        }
        listCol
      case MapProjection(subject, items) =>
        val fields = items.flatMap {
          case Left("*") => // n{.*}: every hydrated property of the entity
            val v = subject match {
              case Variable(x) => x
              case other => throw new IllegalArgumentException(
                s"{.*} projection needs an entity variable, got $other")
            }
            env.df.map(_.columns.toSeq).getOrElse(Seq.empty)
              .filter(cn => cn.startsWith(v + "$") && cn != s"$v$$labels")
              .sorted
              .map(cn => col(cn).as(cn.drop(v.length + 1)))
          case Left(k) =>
            Seq(c(Prop(subject, k)).as(k))
          case Right((k, v)) => Seq(c(v).as(k))
        }
        // a NULL subject projects to NULL, not an all-null map (reference
        // MapProjection: `null{.*} IS NULL`; collect() then skips it)
        subject match {
          case Variable(_) | Prop(_, _) =>
            when(c(subject).isNull, lit(null)).otherwise(struct(fields: _*))
          case _ => struct(fields: _*)
        }
      case _: PatternExists | _: PatternCount =>
        throw new IllegalArgumentException(
          "pattern subqueries must appear in WHERE or projection items " +
            "(where they lower to joins), not nested in unsupported positions")
    }
  }

  private def compileFunc(ctx: Ctx, env: Env, name: String, args: Seq[Expr],
      distinct: Boolean, lambdas: Map[String, Column]): Column = {
    def c(x: Expr): Column = compile(ctx, env, x, lambdas)
    def a0 = c(args.head)
    // a variant-encoded argument to a STRING function decodes its `s`
    // payload (dynamic-typed property storage). Non-string non-null rows
    // raise a TypeError at runtime — the reference contract
    // (TrimFunctionsAcceptance.feature "should fail with wrong type":
    // CypherTypeException from CypherFunctions' string coercion).
    def s0 = decodeStr(a0)
    def decodeStr(cc: Column): Column =
      if (dataTypeOf(env, cc).exists(graft.functions.Orderability.isEncoded)) {
        import graft.functions.Orderability.{RankNull, RankString}
        val rank = cc.getField("rank")
        when(cc.isNull || rank === lit(RankNull), lit(null).cast("string"))
          .when(rank === lit(RankString), cc.getField("s"))
          .otherwise(raise_error(concat(
            lit(s"TypeError: $name() expected a String, got "),
            cc.getField("repr"))).cast("string"))
      } else cc
    name match {
      // aggregates (within groupBy().agg(...))
      case "count"   => if (distinct) count_distinct(a0) else count(a0)
      // Cypher: sum over zero rows / all-null input is 0, not null
      // (reference SumFunction's zero start value); a NullType input
      // (e.g. a missing-everywhere property) sums to integer 0, not 0.0
      case "sum"     =>
        if (dataTypeOf(env, a0).contains(org.apache.spark.sql.types.NullType))
          coalesce(max(lit(0L)), lit(0L)) // aggregate-shaped constant 0
        else if (distinct) coalesce(sum_distinct(a0), lit(0L))
        else coalesce(sum(a0), lit(0L))
      case "avg"     =>
        if (distinct) sum_distinct(a0) / count_distinct(a0) else avg(a0)
      case "min" | "max" =>
        // cross-type min/max (reference MinMaxFunction.scala): orderability-
        // encoded values compare by the struct's type-rank order; encoded
        // NULLs must be skipped like real NULLs are
        val v = if (isOrderabilityTyped(env, a0))
          when(a0.getField("rank") =!=
            lit(graft.functions.Orderability.RankNull), a0) else a0
        if (name == "min") min(v) else max(v)
      case "collect" =>
        // Cypher collect() skips NULLs; collect_list already does.
        if (distinct) collect_set(a0) else collect_list(a0)
      case "stdev"  => stddev_samp(a0)
      case "stdevp" => stddev_pop(a0)
      // percentileCont = exact linear interpolation (Spark's percentile);
      // percentileDisc returns an actual member — percentile_approx with
      // maximal accuracy picks the discrete boundary value.
      case "percentilecont" => percentile(a0, c(args(1)))
      case "percentiledisc" => percentile_approx(a0, c(args(1)), lit(100000))
      // entity accessors (hydrated columns)
      case "id" => a0
      case "properties" | "keys" =>
        // properties(null) / keys(null) ARE null (reference CypherFunctions);
        // properties(map) is the map itself, keys(map) its key list
        if (args.head == Lit(null)) return lit(null)
        args.head match {
          case Variable(_) => ()
          // a CASE whose result arms are all null literals is null-typed
          // before Spark can resolve it — short-circuit
          case ce: CaseExpr
              if (ce.whens.map(_._2) ++ ce.default).forall(_ == Lit(null)) =>
            return lit(null)
          case other =>
            val oc = c(other)
            dataTypeOf(env, oc) match {
              case Some(org.apache.spark.sql.types.NullType) => return lit(null)
              case Some(_: org.apache.spark.sql.types.MapType) =>
                return (if (name == "properties") oc else map_keys(oc))
              case Some(st: org.apache.spark.sql.types.StructType) =>
                return (if (name == "properties") oc
                  else lit(st.fieldNames.sorted))
              case _ => ()
            }
        }
        val v = args.head match {
          case Variable(x) => x
          case other => throw new IllegalArgumentException(s"$name() needs a variable")
        }
        val isRel = env.binds.get(v).contains(RelVar)
        val structural =
          if (isRel) Set(s"$v$$src", s"$v$$dst", s"$v$$type") else Set(s"$v$$labels")
        val propCols = env.df.map(_.columns.toSeq).getOrElse(Seq.empty)
          .filter(cn => cn.startsWith(v + "$") && !structural(cn) &&
            !cn.startsWith(s"$v$$__")).sorted
        require(propCols.nonEmpty, s"no hydrated properties for $v")
        if (name == "properties")
          // Cypher returns a map; columnar engines return a STRUCT of the
          // hydrated properties (documented divergence — field set is the
          // union schema, NULL for absent)
          struct(propCols.map(cn => col(cn).as(cn.drop(v.length + 1))): _*)
        else
          concat(propCols.map(cn =>
            when(col(cn).isNotNull, array(lit(cn.drop(v.length + 1))))
              .otherwise(array().cast("array<string>"))): _*)
      case "labels" | "type" | "startnode" | "endnode" =>
        val key = name match {
          case "labels" => "labels"; case "type" => "type"
          case "startnode" => "src"; case "endnode" => "dst"
        }
        args.head match {
          case Variable(v) => // lambda over enriched path elements first
            lambdas.getOrElse(s"$v$$$key", col(s"$v$$$key"))
          // type(rs[0]) / labels(ns[i]) over an entity-list variable: read
          // the enriched per-position array (pathElemNeeds hydrates it)
          case Index(Variable(lv), i)
              if name == "type" && env.binds.get(lv).contains(RelListVar) &&
                env.df.exists(_.columns.contains(s"$lv$$reltypes")) =>
            val ic = c(i)
            try_element_at(col(s"$lv$$reltypes"),
              when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
          case Index(Variable(lv), i)
              if name == "labels" && env.binds.get(lv).contains(NodeListVar) &&
                env.df.exists(_.columns.contains(s"$lv$$nodelabels")) =>
            val ic = c(i)
            try_element_at(col(s"$lv$$nodelabels"),
              when(ic >= 0, ic + 1).otherwise(ic).cast("int"))
          case other => throw new IllegalArgumentException(s"$name() needs a variable")
        }
      // scalar functions
      case "toupper"   => upper(s0)
      case "tolower"   => lower(s0)
      // Cypher 5 trim variants take an optional trim-character argument.
      // The default trims UNICODE whitespace (reference trims
      // Character.isWhitespace — thin/ideographic spaces included), which
      // Spark's space-only trim() does not; (?U) makes \s Unicode-aware.
      // The explicit trim string must be exactly one character (reference
      // error contract); a null trim string nulls the result.
      case "trim" | "btrim" | "ltrim" | "rtrim" |
           "trim$from" | "ltrim$from" | "rtrim$from" =>
        val base = name.stripSuffix("$from")
        if (args.size > 1) args(1) match {
          case Lit(null) => lit(null).cast("string")
          case e =>
            val s = constString(e)
            // the TRIM(spec char FROM s) grammar form mandates ONE character;
            // ltrim(s, chars)-style calls take a character set
            if (name.endsWith("$from"))
              require(s.codePointCount(0, s.length) == 1,
                s"trim character string must be a single character, got '$s'")
            base match {
              case "trim" | "btrim" => trim(s0, s)
              case "ltrim"          => ltrim(s0, s)
              case _                => rtrim(s0, s)
            }
        } else base match {
          case "trim" | "btrim" => regexp_replace(s0, "(?U)(^\\s+|\\s+$)", "")
          case "ltrim"          => regexp_replace(s0, "(?U)^\\s+", "")
          case _                => regexp_replace(s0, "(?U)\\s+$", "")
        }
      case "reverse"   => reverse(a0)
      case "replace"   =>
        // Cypher replace() is fully literal: quote the search regex AND
        // escape \ and $ in the replacement (else group refs / escapes fire)
        regexp_replace(s0, regexp_quote(decodeStr(c(args(1)))),
          regexp_replace(decodeStr(c(args(2))), "([\\\\$])", "\\\\$1"))
      case "split"     => args(1) match {
        case Lit(p: String) => split(s0, java.util.regex.Pattern.quote(p))
        // dynamic delimiter: regex-quote the evaluated string so the
        // split stays literal, like the reference's split()
        case other => split(s0, regexp_quote(decodeStr(c(other))), lit(-1))
      }
      case "substring" =>
        // Cypher 0-based start
        if (args.size >= 3) s0.substr(c(args(1)) + 1, c(args(2)))
        else { val sc = s0; sc.substr(c(args(1)) + 1, length(sc)) }
      case "left"  => s0.substr(lit(1), c(args(1)))
      case "right" => { val sc = s0; sc.substr(length(sc) - c(args(1)) + 1, c(args(1))) }
      case "size" | "length" =>
        args.head match {
          case Variable(v) if env.binds.get(v).contains(PathVar) =>
            col(s"$v$$length") // length(p) of a shortestPath variable
          case _ => if (isArrayTyped(env, a0)) size(a0) else length(a0)
        }
      case "relationships" | "rels" =>
        args.head match {
          case Variable(v) if env.binds.get(v).contains(PathVar) =>
            col(s"$v$$rels") // rel-id sequence of a shortestPath variable
          // a PATH VALUE (STRUCT{nodes, rels, length} — e.g. a path
          // returned through a CALL {} / IN TRANSACTIONS body)
          case _ if isPathStructTyped(env, a0) => a0.getField("rels")
          case other => throw new IllegalArgumentException(
            "relationships() takes a shortestPath variable")
        }
      case "nodes" =>
        args.head match {
          case Variable(v) if env.binds.get(v).contains(PathVar) =>
            col(s"$v$$nodes") // node-id sequence incl. both endpoints
          case _ if isPathStructTyped(env, a0) => a0.getField("nodes")
          case other => throw new IllegalArgumentException(
            "nodes() takes a shortestPath variable")
        }
      case "tostring" | "tostringornull" =>
        // entities are not convertible: toStringOrNull(node) IS NULL
        // (reference CypherFunctions.toStringOrNull), toString raises
        if (entityArg(env, args.head)) {
          if (name == "tostring") throw new IllegalArgumentException(
            "toString() cannot convert a node, relationship or path")
          lit(null).cast("string")
        }
        else if (isOrderabilityTyped(env, a0)) graft.functions.Orderability.repr(a0)
        else a0.cast("string")
      // Cypher conversions return NULL on unconvertible input (ANSI casts
      // would throw); toInteger truncates numeric strings like the reference
      case "tointeger" | "tointegerornull" =>
        if (entityArg(env, args.head)) lit(null).cast("long")
        else a0.try_cast("double").try_cast("long")
      case "tofloat" | "tofloatornull"     =>
        if (entityArg(env, args.head)) lit(null).cast("double")
        else a0.try_cast("double")
      case "toboolean" | "tobooleanornull" =>
        if (entityArg(env, args.head)) lit(null).cast("boolean")
        else a0.try_cast("boolean")
      case "abs"   => abs(a0)
      case "ceil"  => ceil(a0).cast("double")
      case "floor" => floor(a0).cast("double")
      case "round" =>
        val scale = if (args.size > 1) constInt(ctx, args(1)) else 0
        // 1-arg round = Java Math.round (reference CypherFunctions.round
        // :293): nearest integer, TIES TOWARD POSITIVE INFINITY — not
        // HALF_UP (round(-2.5) is -2.0, not -3.0); result is FLOAT
        if (args.size == 1) floor(a0 + lit(0.5)).cast("double")
        else if (args.size == 2) round(a0, scale)
        else {
          // Cypher round(value, precision, mode) — reference
          // expressions/functions Round with java.math.RoundingMode
          val mode = args(2) match {
            case Lit(s: String) => s.toUpperCase
            case other => throw new IllegalArgumentException(
              s"round() mode must be a string literal, got $other")
          }
          val f = pow(lit(10.0), lit(scale))
          mode match {
            case "HALF_UP"   => round(a0, scale)
            case "HALF_EVEN" => bround(a0, scale)
            case "UP"        => signum(a0) * ceil(abs(a0) * f) / f
            case "DOWN"      => signum(a0) * floor(abs(a0) * f) / f
            case "CEILING"   => ceil(a0 * f) / f
            case "FLOOR"     => floor(a0 * f) / f
            case "HALF_DOWN" => signum(a0) * ceil(abs(a0) * f - 0.5) / f
            case other => throw new IllegalArgumentException(
              s"unknown round() mode $other")
          }
        }
      case "elementid" =>
        // reference elementId() returns "<entity>:<db-uuid>:<id>"; the
        // columnar analog is the decimal id string (documented divergence —
        // stable within a graph, which is what users key on)
        a0.cast("string")
      case "sqrt"  => sqrt(a0)
      case "sign"  => signum(a0).cast("long") // Cypher sign() is INTEGER
      case "exp"   => exp(a0)
      case "log"   => log(a0)
      case "log10" => log10(a0)
      case "sin"   => sin(a0)
      case "cos"   => cos(a0)
      case "tan"   => tan(a0)
      case "cot"   => lit(1.0) / tan(a0)
      case "atan"  => atan(a0)
      case "acos"  => acos(a0)
      case "asin"  => asin(a0)
      case "atan2" => atan2(a0, c(args(1)))
      case "degrees" => degrees(a0)
      case "radians" => radians(a0)
      // haversin(x) = sin²(x/2) (reference functions/Haversin.scala)
      case "haversin" => (lit(1.0) - cos(a0)) / lit(2.0)
      case "isnan"    => // isNaN(null) IS NULL (reference), not false
        when(a0.isNull, lit(null)).otherwise(isnan(a0.cast("double")))
      case "pi"    => lit(math.Pi)
      case "e"     => lit(math.E)
      case "rand"  => rand()
      case "randomuuid" => expr("uuid()")
      // timestamp() = millis since epoch (reference functions/Timestamp.scala)
      case "timestamp"  => unix_millis(current_timestamp())
      case "char_length" | "character_length" => length(a0).cast("long")
      case "isempty" =>
        // reference error contract (InvalidArgumentValue): isEmpty() takes
        // a LIST, MAP or STRING — never an entity
        args.head match {
          case Variable(v) if env.binds.get(v).exists {
              case NodeVar | RelVar | PathVar => true; case _ => false } =>
            throw new IllegalArgumentException(
              s"isEmpty() takes a list, map or string — `$v` is an entity")
          case _ => ()
        }
        dataTypeOf(env, a0) match { // LIST / MAP use size, STRING length
          case Some(_: org.apache.spark.sql.types.ArrayType) |
               Some(_: org.apache.spark.sql.types.MapType) => size(a0) === 0
          case Some(t) if graft.functions.Orderability.isEncoded(t) =>
            // dynamic dispatch over a variant-encoded value: list → its
            // element count, string → its length, anything else → NULL
            val O = graft.functions.Orderability
            when(a0.getField("rank") === lit(O.RankList),
                size(a0.getField("l")) === 0)
              .when(a0.getField("rank") === lit(O.RankString),
                length(a0.getField("s")) === 0)
          case _ => length(a0) === 0
        }
      case "nullif" =>
        // cross-category operands (one side variant-encoded or a different
        // type family) compare ternary — `nullIf(13, 'foo')` is 13, never
        // a type error (reference NullIf uses the global equality)
        val b0 = c(args(1))
        val (ta, tb) = (dataTypeOf(env, a0), dataTypeOf(env, b0))
        if (ta.isDefined && ta == tb) nullif(a0, b0)
        else {
          graft.functions.expressions.CypherCompare.ensureRegistered(ctx.spark)
          when(call_function("cypher_compare", a0, b0, lit("=")), lit(null))
            .otherwise(a0)
        }
      case "exists" => a0.isNotNull // legacy exists(n.prop)
      case "valuetype" =>
        // compile-time type from the schema (reference functions/ValueType
        // .scala returns the CIP-100 type name; value-dependence collapses
        // to the NULL/NOT NULL split in a columnar engine, plus a runtime
        // empty/null-element split for lists)
        val entity = args.head match {
          case Variable(v) => env.binds.get(v).collect {
            case NodeVar => "NODE"
            case RelVar  => "RELATIONSHIP"
            case PathVar => "PATH"
          }
          case _ => None
        }
        entity match {
          case Some(t) =>
            when(a0.isNull, lit("NULL")).otherwise(lit(s"$t NOT NULL"))
          case None =>
            import org.apache.spark.sql.types._
            val O = graft.functions.Orderability
            // (orderIdx, name) per encoded element — idx is the
            // reference's normalized union order (ValueRepresentation)
            def elEntry(el: Column, depth: Int): Column = {
                  val r2 = el.getField("rank")
                  val isInt = el.getField("repr").rlike("^-?[0-9]+$")
                  val name =
                    when(r2 === O.RankString, lit("STRING"))
                      .when(r2 === O.RankBoolean, lit("BOOLEAN"))
                      .when(r2 === O.RankNumber,
                        when(isInt, lit("INTEGER")).otherwise(lit("FLOAT")))
                      .when(r2 === O.RankDate, lit("DATE"))
                      .when(r2 === O.RankZonedTime, lit("ZONED TIME"))
                      .when(r2 === O.RankLocalTime, lit("LOCAL TIME"))
                      .when(r2 === O.RankZdt, lit("ZONED DATETIME"))
                      .when(r2 === O.RankLdt, lit("LOCAL DATETIME"))
                      .when(r2 === O.RankDuration, lit("DURATION"))
                      .when(r2 === O.RankPoint, lit("POINT"))
                      .when(r2 === O.RankMap, lit("MAP"))
                      .when(r2 === O.RankNode, lit("NODE"))
                      .when(r2 === O.RankRel, lit("RELATIONSHIP"))
                      .when(r2 === O.RankPath, lit("PATH"))
                      .when(r2 === O.RankList,
                        if (depth < 2)
                          concat(lit("LIST<"), unionName(el, depth + 1),
                            lit(">"))
                        else lit("LIST<ANY>"))
                      .otherwise(lit("ANY"))
                  val idx =
                    when(r2 === O.RankBoolean, lit(2))
                      .when(r2 === O.RankString, lit(3))
                      .when(r2 === O.RankNumber,
                        when(isInt, lit(4)).otherwise(lit(5)))
                      .when(r2 === O.RankDate, lit(6))
                      .when(r2 === O.RankLocalTime, lit(7))
                      .when(r2 === O.RankZonedTime, lit(8))
                      .when(r2 === O.RankLdt, lit(9))
                      .when(r2 === O.RankZdt, lit(10))
                      .when(r2 === O.RankDuration, lit(11))
                      .when(r2 === O.RankPoint, lit(12))
                      .when(r2 === O.RankNode, lit(13))
                      .when(r2 === O.RankRel, lit(14))
                      .when(r2 === O.RankMap, lit(15))
                      .when(r2 === O.RankList, lit(16))
                      .when(r2 === O.RankPath, lit(17))
                      .otherwise(lit(99))
                  struct(idx.as("i"), name.as("n"))
                }
                // union type name of a list of encoded elements, with the
                // reference's LIST-member subsumption (CypherType
                // normalization): a LIST member whose inner member set is
                // covered by another LIST member's — equal, or weaker by
                // dropping NOT NULL — is absorbed (LIST<NOTHING> by any
                // list, LIST<INTEGER NOT NULL> by LIST<INTEGER | FLOAT>)
                def memberEntries(els: Column, depth: Int): Column = {
                  // SQL-null elements (COLLECT{} retains them) count as
                  // Cypher nulls alongside rank-Null encoded elements
                  def isNullEl(e: Column) =
                    e.isNull || e.getField("rank") === lit(O.RankNull)
                  val hasNull = exists(els, e => isNullEl(e))
                  val entries = array_distinct(transform(
                    filter(els, e => !isNullEl(e)), { e =>
                      val en = elEntry(e, depth)
                      struct(en.getField("i").as("i"),
                        en.getField("n").as("n"),
                        (e.getField("rank") === lit(O.RankList)).as("lst"),
                        (if (depth < 2)
                          memberEntries(e.getField("l"), depth + 1)
                        else array().cast("array<string>")).as("ms"))
                    }))
                  def base(m: Column) = regexp_replace(m, " NOT NULL$", "")
                  val kept = filter(entries, k =>
                    !(k.getField("lst") && exists(entries, j =>
                      j.getField("lst") && j.getField("n") =!= k.getField("n") &&
                        forall(k.getField("ms"), m =>
                          array_contains(j.getField("ms"), m) ||
                            array_contains(j.getField("ms"), base(m))))))
                  transform(array_sort(kept), en =>
                    concat(en.getField("n"),
                      when(hasNull, lit("")).otherwise(lit(" NOT NULL"))))
                }
                def unionNameOf(els: Column, depth: Int): Column = {
                  val mems = memberEntries(els, depth)
                  when(size(els) === 0, lit("NOTHING"))
                    .when(size(mems) === 0, lit("NULL"))
                    .otherwise(array_join(mems, " | "))
                }
            def unionName(v: Column, depth: Int): Column =
              unionNameOf(v.getField("l"), depth)
            env.df.map(_.select(a0).schema.head.dataType) match {
              // orderability-ENCODED value (mixed-typed UNWIND/CASE/list
              // element): the dynamic type dispatches on the RANK; repr
              // distinguishes INTEGER from FLOAT; list element types union
              // dynamically in the reference's normalized type order
              case Some(st: StructType)
                  if graft.functions.Orderability.isEncoded(st) =>
                val r1 = a0.getField("rank")
                when(a0.isNull.or(r1 === O.RankNull), lit("NULL"))
                  .when(r1 === O.RankList,
                    concat(lit("LIST<"), unionName(a0, 0),
                      lit("> NOT NULL")))
                  .otherwise(concat(elEntry(a0, 0).getField("n"),
                    lit(" NOT NULL")))
              // a NATIVE array of encoded elements (collect() over a
              // dynamic-typed property column): same member-union naming
              case Some(ArrayType(et: StructType, _))
                  if graft.functions.Orderability.isEncoded(et) =>
                when(a0.isNull, lit("NULL"))
                  .otherwise(concat(lit("LIST<"), unionNameOf(a0, 0),
                    lit("> NOT NULL")))
              case Some(ArrayType(et, _)) =>
                val en = cypherTypeName(et)
                when(a0.isNull, lit("NULL"))
                  .when(size(a0) === 0, lit("LIST<NOTHING> NOT NULL"))
                  .when(exists(a0, _.isNull), lit(s"LIST<$en> NOT NULL"))
                  .otherwise(lit(s"LIST<$en NOT NULL> NOT NULL"))
              case dt =>
                when(a0.isNull, lit("NULL"))
                  .otherwise(lit(dt.map(cypherTypeName).getOrElse("ANY") +
                    " NOT NULL"))
            }
        }
      // list coercions: element-wise, NULL on unconvertible input
      case "tostringlist"  => transform(a0, _.try_cast("string"))
      case "tofloatlist"   => transform(a0, _.try_cast("double"))
      case "tointegerlist" => transform(a0, _.try_cast("double").try_cast("long"))
      case "tobooleanlist" => transform(a0, _.try_cast("boolean"))
      case "normalize" =>
        val form = args.drop(1).headOption match {
          case None                => "NFC"
          case Some(Lit(s: String)) => s.toUpperCase
          case Some(Variable(f))   => f.toUpperCase // bare NFD keyword form
          case Some(other) => throw new IllegalArgumentException(
            s"normalize() form must be NFC/NFD/NFKC/NFKD, got $other")
        }
        // lazy per-session registration: works on any SparkSession, not
        // only ones built via GraftSession.builder's extensions hook
        graft.functions.expressions.NormalizeUnicode.ensureRegistered(ctx.spark)
        call_function("unicode_normalize", a0, lit(form))
      // vector similarity (reference VectorSimilarityCosine/Euclidean →
      // Lucene VectorSimilarityFunction scores, both scaled into (0, 1])
      case "vector.similarity.cosine" =>
        // element-wise cast via Column.cast (not transform) so a NULL
        // operand stays NULL instead of failing analysis on VOID
        val (x, y) = (a0.cast("array<double>"), c(args(1)).cast("array<double>"))
        (lit(1.0) + graft.functions.Similarity.cosine(x, y)) / lit(2.0)
      case "vector.similarity.euclidean" =>
        val (x, y) = (a0.cast("array<double>"), c(args(1)).cast("array<double>"))
        val d2 = aggregate(zip_with(x, y, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, v) => acc + v)
        lit(1.0) / (lit(1.0) + d2)
      case "range" =>
        if (args.size >= 3) {
          // a step pointing AWAY from the stop is an empty list in Cypher
          // (range(8, 2, 1) = []); Spark's sequence raises instead
          val (start, stop, step) = (a0, c(args(1)), c(args(2)))
          when((stop >= start && step > 0) || (stop <= start && step < 0),
              sequence(start, stop, step))
            .otherwise(array().cast("array<long>"))
        }
        else {
          // 2-arg range has IMPLICIT step 1: stop < start is [] in Cypher
          // (Spark's sequence auto-reverses to a descending list instead)
          val stop = c(args(1))
          when(stop >= a0, sequence(a0, stop))
            .otherwise(array().cast("array<long>"))
        }
      // null on empty (Cypher), not an ANSI out-of-bounds error
      case "head"  => try_element_at(a0, lit(1))
      case "last"  => try_element_at(a0, lit(-1))
      case "tail"  => slice(a0, lit(2), greatest(size(a0) - 1, lit(0)))
      case "coalesce" => coalesce(args.map(c): _*)
      case "date" => args.headOption match {
        case None => current_date() // date() = today (reference clock default)
        case Some(MapLit(es)) => // date({year, month, day}) construction
          val m = es.toMap
          make_date(c(m("year")), c(m.getOrElse("month", Lit(1L))),
            c(m.getOrElse("day", Lit(1L))))
        case Some(_) => to_date(a0)
      }
      case "datetime" => args.headOption match {
        case None => current_timestamp()
        case Some(MapLit(es)) =>
          val m = es.toMap
          // epoch forms (reference TemporalValue.parse epochMillis/Seconds)
          if (m.contains("epochMillis")) timestamp_millis(c(m("epochMillis")))
          else if (m.contains("epochSeconds"))
            timestamp_seconds(c(m("epochSeconds")))
          else {
            def g(k: String, dflt: Long) = c(m.getOrElse(k, Lit(dflt)))
            make_timestamp(g("year", 1970), g("month", 1), g("day", 1),
              g("hour", 0), g("minute", 0), g("second", 0))
          }
        case Some(_) => to_timestamp(a0)
      }
      // wall-clock datetime without zone → TimestampNTZ (SURVEY §1.4)
      case "localdatetime" => args.headOption match {
        case None => localtimestamp()
        case Some(MapLit(es)) =>
          val m = es.toMap
          def g(k: String, dflt: Long) = c(m.getOrElse(k, Lit(dflt)))
          make_timestamp_ntz(g("year", 1970), g("month", 1), g("day", 1),
            g("hour", 0), g("minute", 0), g("second", 0))
        case Some(Lit(s: String)) if parseIsoLdt(s).isDefined =>
          // plan-time parse covers the ISO 8601 forms Spark's parser
          // lacks (ordinal yyyyDDD, compact yyyyMMdd'T'HHmmss — reference
          // temporal parsing accepts all ISO calendar spellings)
          lit(parseIsoLdt(s).get)
        case Some(_) => to_timestamp_ntz(a0)
      }
      // TIME values (reference values/storable/TimeValue.java /
      // LocalTimeValue.java): Spark has no time-of-day type, so they are
      // typed structs — nanos-since-midnight (+ zone-offset seconds for
      // the zoned kind). valueType()/orderability recognize the layouts
      // (ZONED TIME / LOCAL TIME); component access via datetime() stays
      // the documented route.
      case "time" | "localtime" =>
        val zoned = name == "time"
        def mkTime(tn: Column, off: Column): Column =
          if (zoned) struct(tn.cast("long").as("tnanos"),
            off.cast("int").as("toffset"))
          else struct(tn.cast("long").as("tnanos"))
        args.headOption match {
          case None =>
            val ts = current_timestamp() // session tz = UTC (GraftSession)
            mkTime((hour(ts).cast("long") * 3600L +
              minute(ts).cast("long") * 60L + second(ts).cast("long")) *
              lit(1000000000L), lit(0))
          case Some(_) =>
            val pat = "^(\\d{1,2}):(\\d{2})(?::(\\d{2}))?" +
              "(?:\\.(\\d{1,9}))?(Z|[+-]\\d{2}:?\\d{2})?$"
            def grp(i: Int) = regexp_extract(a0, pat, i)
            def num(i: Int) = when(grp(i) === "", lit(0L))
              .otherwise(grp(i).cast("long"))
            val frac = when(grp(4) === "", lit(0L))
              .otherwise(rpad(grp(4), 9, "0").cast("long"))
            val tn = (num(1) * 3600L + num(2) * 60L + num(3)) *
              lit(1000000000L) + frac
            val off = when(grp(5) === "" || grp(5) === "Z", lit(0L))
              .otherwise(
                when(substring(grp(5), 1, 1) === "-", lit(-1L)).otherwise(lit(1L)) *
                (substring(grp(5), 2, 2).cast("long") * 3600L +
                  substring(grp(5), -2, 2).cast("long") * 60L))
            // unparsable input → runtime error, like the reference
            val ok = a0.rlike(pat)
            mkTime(when(ok, tn).otherwise(raise_error(concat(
              lit(s"TypeError: $name() cannot parse "), a0)).cast("long")),
              off)
        }
      // date.truncate('month', d) / datetime.truncate('hour', ts)
      case "date.truncate" =>
        date_trunc(constString(args.head), c(args(1))).cast("date")
      case "datetime.truncate" =>
        date_trunc(constString(args.head), c(args(1)))
      case "localdatetime.truncate" =>
        date_trunc(constString(args.head), c(args(1))).cast("timestamp_ntz")
      // clock variants (reference procedure/impl/temporal/*Function.java):
      // statement and transaction clocks coincide in a single-statement
      // engine; realtime is the wall clock — all three read one clock here
      case "datetime.statement" | "datetime.transaction" | "datetime.realtime" =>
        current_timestamp()
      case "date.statement" | "date.transaction" | "date.realtime" =>
        current_date()
      case "localdatetime.statement" | "localdatetime.transaction" |
           "localdatetime.realtime" => localtimestamp()
      // temporal durations (graft.functions.Durations — 4-field struct)
      case "duration" => args.head match {
        case MapLit(es) => // duration({years, months, days, hours, …})
          val m = es.toMap
          def g(k: String) = c(m.getOrElse(k, Lit(0L))).cast("long")
          graft.functions.Durations.duration(
            g("years") * 12 + g("months"),
            g("weeks") * 7 + g("days"),
            g("hours") * 3600 + g("minutes") * 60 + g("seconds"),
            g("milliseconds") * 1000000L + g("microseconds") * 1000L +
              g("nanoseconds"))
        case _ => graft.functions.Durations.parseIso(a0)
      }
      case "duration.between"    => graft.functions.Durations.betweenDates(a0, c(args(1)))
      case "duration.indays"     => graft.functions.Durations.inDays(a0, c(args(1)))
      case "duration.inseconds"  => graft.functions.Durations.inSeconds(a0, c(args(1)))
      case "duration.inmonths"   => graft.functions.Durations.inMonths(a0, c(args(1)))
      // spatial points (graft.functions.Spatial)
      case "point" => args.head match {
        case MapLit(entries) =>
          val m = entries.toMap
          def get(k: String) = m.get(k).map(c)
          (get("longitude"), get("latitude")) match {
            case (Some(x), Some(y)) => graft.functions.Spatial.geoPoint(x, y)
            case _ =>
              val srid = (m.get("srid"), m.get("crs")) match {
                case (Some(Lit(s: Long)), _) => s.toInt
                case (_, Some(Lit("wgs-84"))) => graft.functions.Spatial.SridWgs84
                case (_, Some(Lit("wgs-84-3d"))) => 4979
                case (_, Some(Lit("cartesian-3d"))) => 9157
                case _ => graft.functions.Spatial.SridCartesian
              }
              graft.functions.Spatial.point(
                get("x").getOrElse(lit(null)), get("y").getOrElse(lit(null)), srid)
          }
        case Lit(null) => lit(null) // point(null) IS NULL (reference)
        case other => throw new IllegalArgumentException("point() takes a map literal")
      }
      case "distance" | "point.distance" =>
        graft.functions.Spatial.distance(a0, c(args(1)))
      case "point.withinbbox" =>
        graft.functions.Spatial.withinBBox(a0, c(args(1)), c(args(2)))
      case other => throw new IllegalArgumentException(s"unsupported function: $other()")
    }
  }

  /** java-regex-quoted literal for split(): Cypher split is literal. */
  private def javaQuote(e: Expr): String = e match {
    case Lit(s: String) => java.util.regex.Pattern.quote(s)
    case other => throw new IllegalArgumentException("split() needs a literal delimiter")
  }

  private def regexp_quote(c: Column): Column =
    // quote regex metacharacters so replace() is literal, matching Cypher
    regexp_replace(c, lit("""([\\.\[\]\{\}\(\)\*\+\?\^\$\|])"""), lit("""\\$1"""))

  private def constString(e: Expr): String = e match {
    case Lit(s: String) => s
    case other => throw new IllegalArgumentException(s"expected string literal, got $other")
  }

  /** CIP-100 type name for valueType() (reference expressions/functions/
    * ValueType.scala → CypherTypeName rendering). */
  private def cypherTypeName(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => "INTEGER"
      case DoubleType | FloatType | _: DecimalType       => "FLOAT"
      case StringType       => "STRING"
      case BooleanType      => "BOOLEAN"
      case DateType         => "DATE"
      case TimestampType    => "ZONED DATETIME"
      case TimestampNTZType => "LOCAL DATETIME"
      case BinaryType       => "BYTEARRAY"
      case ArrayType(e, _)  => s"LIST<${cypherTypeName(e)} NOT NULL>"
      case s: StructType if s.fieldNames.toSeq ==
        Seq("months", "days", "seconds", "nanos") => "DURATION"
      case s: StructType if s.fieldNames.contains("srid") => "POINT"
      case s: StructType if s.fieldNames.toSeq ==
        graft.functions.Orderability.ZonedTimeFields => "ZONED TIME"
      case s: StructType if s.fieldNames.toSeq ==
        graft.functions.Orderability.LocalTimeFields => "LOCAL TIME"
      case _: MapType | _: StructType => "MAP"
      case _ => "ANY"
    }
  }

  /** Does a Spark type satisfy a normalized CIP-100 type name (for
    * `IS :: TYPE`)? */
  private def sparkTypeSatisfies(dt: org.apache.spark.sql.types.DataType,
      t: String): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case "ANY" => true
      case "INTEGER" => dt match {
        case LongType | IntegerType | ShortType | ByteType => true; case _ => false }
      case "FLOAT" => dt match {
        case DoubleType | FloatType | _: DecimalType => true; case _ => false }
      case "STRING"  => dt == StringType
      case "BOOLEAN" => dt == BooleanType
      case "DATE"    => dt == DateType
      case "ZONED DATETIME" | "DATETIME" => dt == TimestampType
      case "LOCAL DATETIME" => dt == TimestampNTZType
      case "ZONED TIME" | "TIME" => dt match {
        case s: StructType => s.fieldNames.toSeq ==
          graft.functions.Orderability.ZonedTimeFields
        case _ => false }
      case "LOCAL TIME" => dt match {
        case s: StructType => s.fieldNames.toSeq ==
          graft.functions.Orderability.LocalTimeFields
        case _ => false }
      case "DURATION" => dt match {
        case s: StructType => s.fieldNames.contains("months") &&
          s.fieldNames.contains("nanos")
        case _ => false }
      case "POINT" => dt match {
        case s: StructType => s.fieldNames.contains("srid"); case _ => false }
      case "MAP" => dt.isInstanceOf[MapType] || dt.isInstanceOf[StructType]
      case list if list.startsWith("LIST<") =>
        val inner = list.stripPrefix("LIST<").stripSuffix(">")
          .stripSuffix(" NOT NULL")
        dt match {
          case ArrayType(e, _) => sparkTypeSatisfies(e, inner)
          case _ => false
        }
      case _ => false
    }
  }

  /** Static type of a compiled column, resolved against the current frame —
    * drives type dispatch for `+`/`-`/`*` (the reference dispatches on
    * runtime AnyValue types; a columnar engine knows them at plan time). */
  private def dataTypeOf(env: Env, c: Column): Option[org.apache.spark.sql.types.DataType] =
    env.df.flatMap(df =>
      scala.util.Try(df.select(c).schema.head.dataType).toOption)

  /** graft's duration type: STRUCT<months,days,seconds,nanos> (Durations). */
  private def isDurationType(dt: Option[org.apache.spark.sql.types.DataType]): Boolean =
    dt.exists {
      case s: org.apache.spark.sql.types.StructType =>
        s.fieldNames.toSeq == Seq("months", "days", "seconds", "nanos")
      case _ => false
    }

  /** Temporal dispatch for component property access. */
  private def isTemporalTyped(env: Env, c: Column): Boolean =
    env.df.exists { df =>
      scala.util.Try(df.select(c).schema.head.dataType).toOption.exists {
        case org.apache.spark.sql.types.DateType => true
        case org.apache.spark.sql.types.TimestampType => true
        case org.apache.spark.sql.types.TimestampNTZType => true
        case _ => false
      }
    }

  /** Type dispatch for size(): arrays use size(), strings length(). */
  /** is variable `v` bound to a PATH VALUE struct column? */
  private def pathStructVar(env: Env, v: String): Boolean =
    env.df.exists(df => df.columns.contains(v) &&
      (df.schema(v).dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          st.fieldNames.toSeq ==
            graft.functions.Orderability.PathStructFields
        case _ => false
      }))

  /** is this column a PATH VALUE struct (nodes, rels, length)? */
  private def isPathStructTyped(env: Env, cc: Column): Boolean =
    dataTypeOf(env, cc) match {
      case Some(st: org.apache.spark.sql.types.StructType) =>
        st.fieldNames.toSeq ==
          graft.functions.Orderability.PathStructFields
      case _ => false
    }

  private def isArrayTyped(env: Env, c: Column): Boolean =
    env.df.exists { df =>
      scala.util.Try(df.select(c).schema.head.dataType).toOption
        .exists(_.isInstanceOf[ArrayType])
    }

  private def isOrderabilityTyped(env: Env, c: Column): Boolean =
    env.df.exists { df =>
      scala.util.Try(df.select(c).schema.head.dataType).toOption
        .exists(graft.functions.Orderability.isEncoded)
    }

  /** literal kinds for the orderability encoding: encode only when the list
    * mixes >1 non-null kind (string/boolean/number) — homogeneous lists
    * (incl. with nulls) keep their native Spark type. */
  private def isMixedLitList(xs: Seq[Expr]): Boolean = {
    def kind(e: Expr): Option[Char] = e match {
      case Lit(null)                      => Some('z')
      case Lit(_: String)                 => Some('s')
      case Lit(_: Boolean)                => Some('b')
      case Lit(_: Long) | Lit(_: Double)  => Some('n')
      case UnaryOp("-", Lit(_: Long))     => Some('n')
      case UnaryOp("-", Lit(_: Double))   => Some('n')
      case _: ListLit                     => Some('l')
      case _                              => None
    }
    val kinds = xs.map(kind)
    kinds.forall(_.isDefined) && (kinds.flatten.toSet - 'z').size > 1
  }
}
