package graft.plans

import graft.functions.L2SquaredDistance
import graft.search.{IvfIndex, Quantize, Router}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Optimizer rule (SURVEY §4.3 stretch): transparently rewrites a
  * brute-force kNN plan
  *
  *   Limit k ( Sort (l2_sq(vecCol, <literal query>) ASC) ( scan ivfDir ) )
  *
  * over a REGISTERED IVF-indexed table into the centroid-pruned probe plan
  * by injecting `cluster_id IN (<nprobe nearest clusters>)` directly above
  * the file relation. The predicate then rides the normal
  * operator-optimization fixpoint (the rule is injected into that batch via
  * GraftExtensions), so PruneFileSourcePartitions turns it into
  * `PartitionFilters` on the scan — users write the naive query and get
  * the index probe.
  *
  * Registration is an explicit opt-in ([[register]]) because nprobe<nlist
  * trades recall for speed — the engine never silently approximates an
  * unregistered table. The rule only fires under a Limit (pure sorts must
  * keep every row) and only for a literal query vector.
  */
object IvfProbeRewrite extends Rule[LogicalPlan] {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, (IvfIndex.Model, Int)]()

  private def normalize(p: String): String =
    p.stripPrefix("file:").stripSuffix("/")

  /** Opt a built/loaded index in for automatic probe rewriting. */
  def register(model: IvfIndex.Model, nprobe: Int): Unit =
    registry.put(normalize(IvfIndex.dataDir(model.indexDir)), (model, nprobe))

  def clear(): Unit = { registry.clear(); routedRegistry.clear()
    routedDecisions.clear() }

  // ---------------------------------------------------------------------
  // ROUTED auto-rewrite (round 12): the rule CONSULTS the measured router
  // ([[Router.plan]]) instead of unconditionally choosing IVF — the same
  // naive `orderBy(l2).limit(k)` SQL text lands on the tier the panel
  // says is best, which is what Milvus's planner does internally at
  // src/app.py:248-254's `client.search` (the caller never names an
  // index). Tiers the rewrite can serve: 'flat' (leave the plan alone —
  // brute force IS the exact plan), the IVF tier (inject the probe
  // predicate, the §4.3 path), and the SQ8 tier (replace the whole
  // Limit(Sort(...)) subtree with the two-stage quantized-scan + exact
  // rerank plan over the registered codes artifact). The DECISION is
  // cached under [[Router.artifactFingerprint]] of the measured roots,
  // so any maintenance verb forces a re-decide (and a re-measure via
  // the panel thunk's own fingerprint-keyed buildOnce), while steady
  // state pays zero per-query routing cost after the first.
  //
  // Scope note — why the GRAPH tiers are not rewrite targets: a beam
  // walk is a data-dependent LOOP (each round's frontier derives from
  // the previous round's results, driver-coordinated bounded collects),
  // not a static plan — there is no LogicalPlan to splice where the
  // Limit(Sort) stood. A router that chooses a graph tier belongs in an
  // API-level dispatcher ([[graft.search.Router.plan]] picks the tier,
  // the caller runs the walk); the REWRITE serves the three tiers whose
  // serving IS one declarative plan. The panel still measures the graph
  // tiers so the decision table stays complete ('serving_plan_*').
  // ---------------------------------------------------------------------

  /** Everything the routed rewrite needs: the IVF model + nprobe (the
    * ivf tier's serving plan), the materialized [[Quantize
    * .quantizedTable]] dir + rerank margin (the sq8 tier's), the
    * measured-panel thunk + tier table + decision inputs for
    * [[Router.plan]], and the fingerprint roots keying decision
    * freshness. `flatTier`/`ivfTier`/`sq8Tier` name the panel rows each
    * serving plan corresponds to. */
  final case class RoutedConfig(
      model: IvfIndex.Model,
      nprobe: Int,
      sq8Dir: String,
      sq8Margin: Int,
      idCol: String,
      vecCol: String,
      panel: () => org.apache.spark.sql.DataFrame,
      tiers: Seq[Router.Tier],
      flatTier: String,
      ivfTier: String,
      sq8Tier: String,
      recallTarget: Double,
      memoryBudget: Option[Long],
      fingerprintRoots: Seq[String],
      // round 13 — the DRIVER-LOOPED tier boundary made explicit: a
      // graph walk has no LogicalPlan to splice where the Limit(Sort)
      // stood (each round's frontier derives from the previous round's
      // RESULTS), so when the router chooses `graphTier` the REWRITE
      // declines (exact plan untouched, RewriteSpec-pinned) and the
      // API-level dispatcher [[serveRouted]] invokes `graphServe`
      // instead — the walk thunk the registrant supplies, closing the
      // panel-can-choose-it-but-rewrite-can't-land-there gap.
      graphTier: String = "",
      graphServe: Option[(SparkSession, Array[Float], Int) =>
        org.apache.spark.sql.DataFrame] = None,
      // round 14 — the LEXICAL tier joins the dispatch menu: a text
      // query routed to the BM25/sparse tier serves through the
      // postings artifact ([[graft.search.FullText.search]]'s plan) via
      // [[serveRoutedText]]. Like the graph thunk, it is an API-level
      // dispatch: text queries don't arrive as a Limit(Sort(vector
      // distance)) plan, so there is nothing for the REWRITE to splice
      // — the modality-aware DECISION is the router's, the serving
      // thunk is the registrant's.
      textTier: String = "",
      textServe: Option[(SparkSession, Seq[String], Int) =>
        org.apache.spark.sql.DataFrame] = None,
      // round 15 — the LEARNED-SPARSE tier completes the dispatch
      // menu: a SPLADE-shape (dim, weight) query routed to the sparse
      // tier serves through the postings artifact
      // ([[graft.search.SparseVec.searchWandIndex]]'s bound-pruned
      // plan) via [[serveRoutedSparse]] — an API-level dispatch like
      // the text/graph thunks (a sparse query never arrives as a
      // Limit(Sort(vector distance)) plan), under the "sparse"
      // modality gate: embedding tiers are ineligible for a (dim, w)
      // query exactly as they are for a term query.
      sparseTier: String = "",
      sparseServe: Option[(SparkSession, Seq[(Int, Double)], Int) =>
        org.apache.spark.sql.DataFrame] = None,
      // round 16 — BULK arity for the sparse tier: Milvus's batch
      // `search(data=[...])` shape. Batch callers hand the whole
      // (qid, dim, w) posting frame to [[serveRoutedSparseBulk]] and
      // the chosen tier serves every query in ONE shared-doubling
      // WAND pass ([[graft.search.SparseVec.searchBulkWandIndex]]) —
      // same decision, same modality gate, only the arity differs,
      // so the router now covers both arities instead of batch
      // callers hand-picking the bulk method around it.
      sparseBulkServe: Option[(SparkSession,
        org.apache.spark.sql.DataFrame, Int) =>
        org.apache.spark.sql.DataFrame] = None)

  private val routedRegistry =
    new java.util.concurrent.ConcurrentHashMap[String, RoutedConfig]()
  private val routedDecisions =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Opt the index in for ROUTER-driven rewriting (keyed, like
    * [[register]], on the IVF data dir the naive query scans).
    * Round 16 (fixed-cost audit): re-registering no longer clears the
    * path's cached decisions — the decision cache key carries every
    * decision-relevant config input ([[decisionFingerprint]]: tier
    * menu, recall target, memory budget) alongside the artifact
    * fingerprint and modality, so a config flip re-routes immediately
    * via a key MISS while an identical re-registration (the steady
    * state: every serving pass re-declares the same config) reuses the
    * cached tier with zero panel/measure jobs. The old clear-on-
    * register made each bench pass re-run the full measured panel —
    * exactly the per-query routing cost the round-12 cache was built
    * to amortize. */
  def registerRouted(cfg: RoutedConfig): Unit = {
    val p = normalize(IvfIndex.dataDir(cfg.model.indexDir))
    routedRegistry.put(p, cfg)
  }

  /** The decision-relevant slice of a [[RoutedConfig]], as a cache-key
    * string: everything [[graft.search.Router.plan]] consumes except
    * the panel itself (whose content is keyed by the artifact
    * fingerprint — the panel thunks are fingerprint-keyed buildOnce
    * artifacts, see the class comment). Serving thunks are
    * deliberately NOT part of the key: they don't influence WHICH tier
    * wins, only how the winner serves. */
  private def decisionFingerprint(cfg: RoutedConfig): String =
    cfg.tiers.map(t =>
        s"${t.name}:${t.present}:${t.filterCapable}:${t.modality}")
      .mkString(",") +
      s"#rt=${cfg.recallTarget}#mb=${cfg.memoryBudget.getOrElse(-1L)}" +
      s"#flat=${cfg.flatTier}" +
      // panel-source discriminator (round-17 ADVICE fix): panel content
      // is keyed by Router.artifactFingerprint over fingerprintRoots,
      // so two registrants sharing an index path but measuring
      // DIFFERENT artifact sets must not read each other's cached tier
      s"#roots=${cfg.fingerprintRoots.mkString(";")}"
      // NOTE (key-coverage guard): nprobe / sq8Margin / sq8Dir are
      // deliberately absent — Router.plan does not consume them (they
      // shape how the chosen tier SERVES, not which tier wins). If
      // Router.plan ever starts reading them, they must join this key
      // or the cache silently under-discriminates.

  /** The tier the rule routes `indexDir`'s naive queries to RIGHT NOW
    * (computing and caching the decision if no query ran yet) — the
    * entry-level hook that lets `routed_auto_search` emit the decision
    * as a column the oracle independently re-derives. */
  def routedDecision(spark: SparkSession, indexDir: String): Option[String] = {
    val p = normalize(IvfIndex.dataDir(indexDir))
    Option(routedRegistry.get(p)).map(cfg => decideTier(spark, p, cfg))
  }

  /** API-level routed serve — the dispatcher that completes the tier
    * menu: tiers whose serving IS one declarative plan (flat / IVF
    * probe / SQ8 splice) serve through `naive` — the caller's exact
    * query text, which this rule compiles to the chosen plan — while
    * the router-chosen GRAPH tier (a data-dependent driver loop, not a
    * plan) dispatches to the registered walk thunk. Unregistered
    * tables and configs without a graph thunk just serve `naive`;
    * `naive` is by-name so the declarative path builds its DataFrame
    * only when actually served. */
  def serveRouted(spark: SparkSession, indexDir: String,
                  query: Array[Float], k: Int)
                 (naive: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = normalize(IvfIndex.dataDir(indexDir))
    Option(routedRegistry.get(p)) match {
      case Some(cfg) if cfg.graphTier.nonEmpty &&
          cfg.graphServe.nonEmpty &&
          decideTier(spark, p, cfg) == cfg.graphTier =>
        cfg.graphServe.get(spark, query, k)
      case _ => naive
    }
  }

  /** The TEXT-modality routed decision for `indexDir` — the
    * `routed_text_search` entry's oracle hook, [[routedDecision]]'s
    * twin under the "text" modality gate. */
  def routedDecisionText(spark: SparkSession,
                         indexDir: String): Option[String] = {
    val p = normalize(IvfIndex.dataDir(indexDir))
    Option(routedRegistry.get(p))
      .map(cfg => decideTier(spark, p, cfg, modality = "text"))
  }

  /** [[serveRouted]] for a TEXT query: when the router (under the
    * "text" modality gate — embedding tiers are ineligible for a term
    * query, Milvus's BM25-vs-vector dispatch) chooses the registered
    * lexical tier, serve through the registrant's postings-artifact
    * thunk ([[graft.search.FullText.search]]'s dim-pruned plan);
    * otherwise the caller's `naive` text plan (a corpus-scan BM25)
    * serves. Unregistered tables and configs without a text thunk just
    * serve `naive`. */
  def serveRoutedText(spark: SparkSession, indexDir: String,
                      terms: Seq[String], k: Int)
                     (naive: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = normalize(IvfIndex.dataDir(indexDir))
    Option(routedRegistry.get(p)) match {
      case Some(cfg) if cfg.textTier.nonEmpty &&
          cfg.textServe.nonEmpty &&
          decideTier(spark, p, cfg, modality = "text") == cfg.textTier =>
        cfg.textServe.get(spark, terms, k)
      case _ => naive
    }
  }

  /** One [[Router.plan]] run per (path, artifact-fingerprint): collect
    * the chosen tier from the tiny decision table. get/putIfAbsent
    * rather than computeIfAbsent — the decision body runs Spark jobs
    * whose own optimization passes through this rule, and a recursive
    * computeIfAbsent on a ConcurrentHashMap is illegal (the inner plans
    * never match a registered path, but the cheap form needs no such
    * argument). An unfilled decision (no eligible tier) degrades to
    * flat — never refuse, like [[Router.plan]] itself. */
  private def decideTier(spark: SparkSession, path: String,
                         cfg: RoutedConfig,
                         modality: String = "vector"): String = {
    val fp = Router.artifactFingerprint(spark, cfg.fingerprintRoots)
    // modality is part of the decision key: the same artifacts route a
    // vector query and a text query to DIFFERENT tiers (Router.plan's
    // round-12 modality gate). So is the config's decision-relevant
    // slice (round 16): two entries sharing one index path but
    // registering different budgets/tier menus must not read each
    // other's cached tier.
    val key = s"$path#$fp#$modality#${decisionFingerprint(cfg)}"
    val cached = routedDecisions.get(key)
    if (cached != null) cached
    else {
      val planned = Router.plan(spark, cfg.panel(), cfg.tiers,
        selectivity = 1.0, recallTarget = cfg.recallTarget,
        memoryBudget = cfg.memoryBudget, queryModality = modality)
      val ch = planned
        .where(org.apache.spark.sql.functions.col("chosen"))
        .select("tier").collect()
      val tier = if (ch.isEmpty) cfg.flatTier else ch(0).getString(0)
      routedDecisions.putIfAbsent(key, tier)
      tier
    }
  }

  /** The SPARSE-modality routed decision for `indexDir` — the
    * `routed_sparse_search` entry's oracle hook,
    * [[routedDecisionText]]'s twin under the "sparse" modality gate. */
  def routedDecisionSparse(spark: SparkSession,
                           indexDir: String): Option[String] = {
    val p = normalize(IvfIndex.dataDir(indexDir))
    Option(routedRegistry.get(p))
      .map(cfg => decideTier(spark, p, cfg, modality = "sparse"))
  }

  /** [[serveRoutedText]] for a SPARSE (dim, weight) query: when the
    * router — under the "sparse" modality gate — chooses the
    * registered learned-sparse tier, serve through the registrant's
    * postings-artifact thunk (the WAND-pruned posting-list seek);
    * otherwise the caller's `naive` corpus-scan plan serves.
    * Unregistered tables and configs without a sparse thunk just
    * serve `naive`. */
  def serveRoutedSparse(spark: SparkSession, indexDir: String,
                        queryDims: Seq[(Int, Double)], k: Int)
                       (naive: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = normalize(IvfIndex.dataDir(indexDir))
    Option(routedRegistry.get(p)) match {
      case Some(cfg) if cfg.sparseTier.nonEmpty &&
          cfg.sparseServe.nonEmpty &&
          decideTier(spark, p, cfg, modality = "sparse") == cfg.sparseTier =>
        cfg.sparseServe.get(spark, queryDims, k)
      case _ => naive
    }
  }

  /** [[serveRoutedSparse]]'s BULK arity (round 16): `queryPostings`
    * is the whole batch's (qid, dim, w) frame; when the router — same
    * "sparse" modality gate, same cached decision — chooses the
    * registered sparse tier, ALL queries serve through the
    * registrant's bulk thunk (one shared-doubling WAND pass);
    * otherwise the caller's `naive` bulk plan serves. Unregistered
    * tables and configs without a bulk thunk just serve `naive`. */
  def serveRoutedSparseBulk(spark: SparkSession, indexDir: String,
                            queryPostings: org.apache.spark.sql.DataFrame,
                            k: Int)
                           (naive: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val p = normalize(IvfIndex.dataDir(indexDir))
    Option(routedRegistry.get(p)) match {
      case Some(cfg) if cfg.sparseTier.nonEmpty &&
          cfg.sparseBulkServe.nonEmpty &&
          decideTier(spark, p, cfg, modality = "sparse") == cfg.sparseTier =>
        cfg.sparseBulkServe.get(spark, queryPostings, k)
      case _ => naive
    }
  }

  /** Match any global Sort under a GlobalLimit — rules like
    * PushProjectionThroughLimit interleave Projects between the limit and
    * the sort, so the ancestor check and the sort match are separate
    * traversals rather than one rigid pattern. Routed tables are tried
    * FIRST (whole-subtree dispatch); the unconditional IVF registry
    * keeps the legacy §4.3 behavior for everything else. */
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(IntegerLiteral(k), _) =>
      routedRewrite(gl, k).getOrElse(
        gl.transformDown {
          case sort @ Sort(orders, true, child, _) =>
            rewrite(orders, child)
              .map(newChild => sort.copy(child = newChild))
              .getOrElse(sort)
        })
    case gl: GlobalLimit =>
      gl.transformDown {
        case sort @ Sort(orders, true, child, _) =>
          rewrite(orders, child)
            .map(newChild => sort.copy(child = newChild))
            .getOrElse(sort)
      }
  }

  /** The routed whole-subtree rewrite. Fires only on the shape the three
    * serving plans can all express — a global Sort whose leading key is
    * an ascending (rounded) l2 over a LITERAL/scalar-subquery query
    * vector, over projections/filters of ONE registered relation with
    * no Join below (the no-Join guard is also what makes the rewrite
    * idempotent: the spliced sq8 plan's own Sort+Limit sits above
    * joins, so the fixpoint never re-enters it). Returns None for
    * unregistered tables (legacy path), Some(unchanged) when the router
    * says flat. */
  private def routedRewrite(gl: GlobalLimit, k: Int): Option[LogicalPlan] = {
    val sortOpt = gl.collectFirst {
      case Sort(orders, true, child, _) => (orders, child)
    }
    for {
      (orders, child) <- sortOpt
      if child.collectFirst { case j: Join => j }.isEmpty
      (lr, path, cfg) <- child.collectFirst {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.toSeq.flatMap { p =>
              val np = normalize(p.toString)
              Option(routedRegistry.get(np)).map(c => (lr, np, c))
            }.headOption
          case _ => None
        }
      }.flatten
      // idempotency for the ivf branch (same guard as the legacy path)
      if !child.collect {
        case Filter(cond, flr: LogicalRelation)
            if cond.references.exists(_.name == "cluster_id") => flr
      }.contains(lr)
      query <- literalQueryVector(orders, child)
    } yield decideTier(SparkSession.active, path, cfg) match {
      case t if t == cfg.ivfTier =>
        lr.output.find(_.name == "cluster_id").map { clusterAttr =>
          val probes = IvfIndex.probeClusters(cfg.model, query, cfg.nprobe)
          gl.transformUp {
            case rel: LogicalRelation if rel eq lr =>
              Filter(In(clusterAttr, probes.map(Literal(_))), rel)
          }
        }.getOrElse(gl)
      case t if t == cfg.sq8Tier =>
        // sq8 is a WHOLE-SUBTREE replacement: the spliced quantized-scan
        // plan reads the codes artifact directly, so any user predicate
        // sitting between the sort and the relation would be silently
        // DISCARDED (wrong rows, not merely approximate ones — the
        // round-13 ADVICE finding). The tier declares filterCapable =
        // false; honor that here by requiring a Project-only path from
        // the sort child down to the registered relation, and serving
        // the exact flat plan otherwise. The ivf branch keeps accepting
        // filters — its rewrite PRESERVES them (predicate injection
        // above the relation, not subtree replacement).
        if (canonicalRound4(orders, child) && projectsOnlyPath(child, lr))
          sq8Replacement(gl, cfg, query, k)
        else gl
      case _ => gl // flat (or an unservable tier name): exact plan as-is
    }
  }

  /** True iff the path from `child` down to the registered relation
    * consists ONLY of Projects (and alias/hint wrappers that change no
    * rows) — i.e. no Filter, Aggregate, Sample, or anything else that a
    * whole-subtree replacement would silently drop. */
  private def projectsOnlyPath(child: LogicalPlan,
                               lr: LogicalRelation): Boolean = {
    def walk(p: LogicalPlan): Boolean = p match {
      case rel: LogicalRelation => rel eq lr
      case pr: Project => walk(pr.child)
      case sa: SubqueryAlias => walk(sa.child)
      case _ => false
    }
    walk(child)
  }

  /** True iff the leading sort key resolves (through projected aliases)
    * to `round(l2_sq(...), 4)` — the engine's canonical serving
    * arithmetic, which is what the spliced sq8 plan computes. A query
    * sorting on an UNROUNDED or differently-rounded distance must not
    * be silently re-rounded by the rewrite. */
  private def canonicalRound4(orders: Seq[SortOrder],
                              child: LogicalPlan): Boolean = {
    val aliases = child.collect { case p: Project => p.projectList }
      .flatten.collect { case a: Alias => a.exprId -> a.child }.toMap
    def res(e: Expression): Expression = e match {
      case ar: AttributeReference =>
        aliases.get(ar.exprId).map(res).getOrElse(ar)
      case other => other
    }
    orders.headOption.map(o => res(o.child)).exists {
      case Round(inner, Literal(s, _), _) if s == 4 =>
        res(inner) match {
          case L2SquaredDistance(_, _) => true
          case _ => false
        }
      case _ => false
    }
  }

  /** Replace the whole Limit(Sort(...)) subtree with the SQ8 two-stage
    * plan ([[Quantize.searchQuantized]]: quantized-scan top-(k·margin)
    * ADC candidates, exact rerank over the base relation — FAISS's SQ8
    * rerank discipline) and align its output to the original subtree's
    * attributes by NAME with exprId-preserving aliases. Fires only when
    * the original output is expressible from the rerank's columns
    * (id / approx_distance / distance) AND the projected sort key is
    * the engine's canonical `round(l2_sq, 4)` — anything else serves
    * flat rather than silently changing the query's arithmetic. */
  private def sq8Replacement(gl: GlobalLimit, cfg: RoutedConfig,
                             query: Array[Float], k: Int): LogicalPlan = {
    val servable = Set(cfg.idCol, "approx_distance", "distance")
    if (!gl.output.map(_.name).toSet.subsetOf(servable)) return gl
    val spark = SparkSession.active
    import spark.implicits._
    val qdf = Seq(Tuple1(query.toSeq)).toDF("__rq")
    val qtab = spark.read.parquet(cfg.sq8Dir)
    val full = IvfIndex.readData(spark, cfg.model.indexDir)
    val served = Quantize.searchQuantized(qtab, full, cfg.vecCol,
      cfg.idCol, qdf, "__rq", k, cfg.sq8Margin)
    // splice the OPTIMIZED inner tree: the broadcast hints must be
    // folded into their Join nodes (EliminateResolvedHint runs BEFORE
    // this rule's fixpoint batch — an analyzed splice would leave
    // ResolvedHint nodes the planner silently drops, losing the
    // candidate-side broadcasts at scale)
    val inner = served.queryExecution.optimizedPlan
    val byName = inner.output.map(a => a.name -> a).toMap
    Project(
      gl.output.map(o => Alias(byName(o.name), o.name)(exprId = o.exprId)),
      inner)
  }

  private def rewrite(orders: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    // relations already guarded by a cluster_id predicate (idempotency
    // under the fixpoint batch)
    val alreadyFiltered = child.collect {
      case Filter(cond, lr: LogicalRelation)
          if cond.references.exists(_.name == "cluster_id") => lr
    }.toSet

    val target = child.collectFirst {
      case lr: LogicalRelation if !alreadyFiltered.contains(lr) =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.toSeq
              .flatMap(p => Option(registry.get(normalize(p.toString))))
              .headOption.map(m => (lr, m._1, m._2))
          case _ => None
        }
    }.flatten

    for {
      (lr, model, nprobe) <- target
      query <- literalQueryVector(orders, child)
      clusterAttr <- lr.output.find(_.name == "cluster_id")
    } yield {
      val probes = IvfIndex.probeClusters(model, query, nprobe)
      child.transformUp {
        case rel: LogicalRelation if rel eq lr =>
          Filter(In(clusterAttr, probes.map(Literal(_))), rel)
      }
    }
  }

  /** Extract the query vector when the leading sort key is an ascending
    * l2_sq, resolving through projected aliases and round(). Handles a
    * LITERAL vector and a SCALAR SUBQUERY (the `sql_knn` pattern
    * `graft_l2_sq(embedding, (SELECT embedding ... WHERE id = ...))`) —
    * the subquery is pre-executed at optimize time, which is sound
    * because a scalar subquery is required to produce exactly one row and
    * this rule only fires for tables explicitly registered for probe
    * rewriting. Execution happens at most once per rewrite: the
    * for-comprehension in [[rewrite]] resolves the registered relation
    * BEFORE calling this, and the injected cluster_id Filter makes the
    * rule a no-op on subsequent fixpoint passes. */
  private def literalQueryVector(orders: Seq[SortOrder],
                                 child: LogicalPlan): Option[Array[Float]] = {
    val aliases = child.collect { case p: Project => p.projectList }
      .flatten.collect { case a: Alias => a.exprId -> a.child }.toMap
    def unwrap(e: Expression): Expression = e match {
      case ar: AttributeReference => aliases.get(ar.exprId).map(unwrap).getOrElse(ar)
      case r: Round => unwrap(r.child)
      case other => other
    }
    def vectorOf(e: Expression): Option[Array[Float]] = e match {
      case Literal(v, ArrayType(FloatType, _)) =>
        Some(v.asInstanceOf[ArrayData].toFloatArray())
      case ss: ScalarSubquery
          if ss.plan.output.size == 1 &&
            ss.plan.output.head.dataType.isInstanceOf[ArrayType] &&
            ss.plan.output.head.dataType.asInstanceOf[ArrayType]
              .elementType == FloatType =>
        scala.util.Try {
          val rows = org.apache.spark.sql.graftbridge.Bridge.runPlan(
            org.apache.spark.sql.SparkSession.active, ss.plan)
          require(rows.length == 1, "scalar subquery must yield one row")
          rows(0).getSeq[Float](0).toArray
        }.toOption
      case _ => None
    }
    orders.headOption.filter(_.direction == Ascending)
      .map(o => unwrap(o.child)).flatMap {
        case L2SquaredDistance(a, b) => vectorOf(b).orElse(vectorOf(a))
        case _ => None
      }
  }
}
