package graft.engine

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Workload management: named admission queues with bounded concurrency
  * and an enqueue timeout, mapped onto Spark's scheduler pools.
  *
  * Reference: the resource scheduler queues queries by cost class with a
  * concurrency limit and a queue-entry timeout
  * (`services/resourcescheduler/src/main/java/com/dremio/resource/basic/
  * BasicResourceAllocator.java`, `BasicResourceConstants.java:32`
  * `exec.queue.timeout_millis`, `QueueType.java` SMALL/LARGE), so a burst
  * of expensive queries cannot starve interactive ones.
  *
  * Spark-first re-expression: admission is a driver-side fair semaphore
  * per queue (the cluster-level slot ledger), and *execution* isolation is
  * Spark's own fair scheduler — each queue names a scheduler pool, set via
  * the `spark.scheduler.pool` thread-local property for the duration of
  * the admitted action, so the cluster shares resources between queues the
  * way the reference shares slices between its queues. Everything is
  * driver-side metadata: zero cost in the data plane.
  */
object Queues {

  /** @param slots max queries admitted concurrently
    * @param timeoutMs max wait for a slot before AdmissionTimeout
    * @param pool Spark fair-scheduler pool the admitted query runs in */
  final case class QueueDef(name: String, slots: Int, timeoutMs: Long, pool: String)

  final class AdmissionTimeout(queue: String, timeoutMs: Long)
    extends RuntimeException(
      s"query did not enter queue '$queue' within ${timeoutMs}ms")

  private final class State(val defn: QueueDef) {
    val sem = new Semaphore(defn.slots, true) // fair: FIFO admission order
    val queued = new AtomicLong(0)
    val running = new AtomicLong(0)
    val admitted = new AtomicLong(0)
    val timedOut = new AtomicLong(0)
    val peakQueued = new AtomicLong(0)
  }

  private val states = TrieMap.empty[String, State]

  /** Define (or redefine) a queue. Redefinition replaces the slot ledger —
    * in-flight queries keep their already-granted slots. */
  def define(name: String, slots: Int, timeoutMs: Long = 5L * 60 * 1000,
             pool: String = null): Unit = {
    require(slots > 0, "queue needs at least one slot")
    states.put(name, new State(QueueDef(name, slots, timeoutMs,
      Option(pool).getOrElse(name))))
  }

  def drop(name: String): Unit = states.remove(name)
  def clear(): Unit = { states.clear(); engines.clear() }
  def defined(name: String): Boolean = states.contains(name)
  def definition(name: String): Option[QueueDef] = states.get(name).map(_.defn)

  // ----- elastic engines (reference SqlAlterEngine, parserImpls.ftl:1877:
  // ALTER ENGINE <name> SET (MIN_REPLICAS = n, MAX_REPLICAS = m)) -------

  /** Declared replica bounds for an engine. The reference resizes an
    * elastic engine's executor replica range; on Spark the executor
    * count belongs to the cluster manager (dynamic allocation is a
    * launch-time contract), so the engine's Spark-side lever is
    * ADMISSION CONCURRENCY: the engine's same-named WLM queue resizes
    * its slots to maxReplicas, while the declared bounds stay visible as
    * metadata (`SHOW ENGINES`). Routing rules already target queues by
    * name, so "engine" and "queue" share the namespace exactly like the
    * reference's queue→engine binding. */
  final case class EngineDef(name: String, minReplicas: Int, maxReplicas: Int)

  private val engines = TrieMap.empty[String, EngineDef]

  /** ALTER ENGINE: update whichever bounds were given (the reference
    * allows either, in either order), validate, and resize the
    * same-named queue's admission slots to the new maximum. */
  def alterEngine(name: String, minReplicas: Option[Int],
                  maxReplicas: Option[Int]): EngineDef = {
    val cur = engines.getOrElse(name,
      EngineDef(name, 0, definition(name).map(_.slots).getOrElse(1)))
    val nd = EngineDef(name,
      minReplicas.getOrElse(cur.minReplicas),
      maxReplicas.getOrElse(cur.maxReplicas))
    require(nd.minReplicas >= 0, s"MIN_REPLICAS must be >= 0: ${nd.minReplicas}")
    require(nd.maxReplicas >= 1 && nd.maxReplicas >= nd.minReplicas,
      s"MAX_REPLICAS (${nd.maxReplicas}) must be >= 1 and >= MIN_REPLICAS " +
        s"(${nd.minReplicas})")
    engines.put(name, nd)
    definition(name) match {
      case Some(q) => define(name, nd.maxReplicas, q.timeoutMs, q.pool)
      case None    => define(name, nd.maxReplicas)
    }
    nd
  }

  def listEngines: Seq[EngineDef] = engines.values.toSeq.sortBy(_.name)

  /** Run `body` under the queue's admission control: blocks for a slot
    * (FIFO, up to timeoutMs), tags the calling thread's jobs with the
    * queue's scheduler pool, and releases the slot when the body returns
    * or throws. Queries on threads that never go through `run` are
    * unmanaged — same as the reference with queueing disabled. */
  def run[T](spark: SparkSession, queueName: String)(body: => T): T = {
    val st = states.getOrElse(queueName,
      throw new NoSuchElementException(s"no such queue: $queueName"))
    val q = st.queued.incrementAndGet()
    st.peakQueued.getAndUpdate(p => math.max(p, q))
    val got =
      try st.sem.tryAcquire(st.defn.timeoutMs, TimeUnit.MILLISECONDS)
      finally st.queued.decrementAndGet()
    if (!got) {
      st.timedOut.incrementAndGet()
      throw new AdmissionTimeout(queueName, st.defn.timeoutMs)
    }
    st.admitted.incrementAndGet()
    st.running.incrementAndGet()
    val sc = spark.sparkContext
    val prevPool = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", st.defn.pool)
    try body
    finally {
      sc.setLocalProperty("spark.scheduler.pool", prevPool)
      st.running.decrementAndGet()
      st.sem.release()
    }
  }

  // ---------- lazy-statement admission (slot held until first action) ----

  private final case class PendingLazy(ref: java.lang.ref.WeakReference[AnyRef],
                                       dfRef: java.lang.ref.WeakReference[AnyRef],
                                       released: AtomicBoolean,
                                       release: () => Unit,
                                       listener: QueryExecutionListener)
  private val pendingLazy = new ConcurrentLinkedQueue[PendingLazy]

  /** Failsafe against slot leaks: a lazy statement whose DataFrame was
    * abandoned without ever running holds no strong reference anywhere once
    * the caller drops it (the listener only holds WeakReferences), so the
    * next admission through any queue reaps cleared entries and frees their
    * slots. Abandonment keys on the caller-owned DATASET, not the analyzed
    * plan — the plan cache may strongly hold the plan long after every
    * caller dropped their handle. Also prunes entries already released by
    * their listener. */
  private def reapAbandoned(spark: SparkSession): Unit = {
    val it = pendingLazy.iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.dfRef.get == null || p.released.get()) {
        p.release() // idempotent
        spark.listenerManager.unregister(p.listener)
        it.remove()
      }
    }
  }

  /** Admission for a LAZY statement (ADVICE r6): [[run]] releases the slot
    * when `body` returns, which for a SELECT is before any job runs — the
    * expensive execution would be unthrottled. Here the slot (and the
    * queue's scheduler pool, left set on the calling thread for the
    * statement's lifetime) is held from submission until the statement's
    * first completed action, detected by a one-shot QueryExecutionListener
    * keyed on the frame's analyzed plan (actions like head()/count() wrap
    * the plan, so the match is containment by reference, not equality).
    * Eagerly-executed commands (DDL/DML — the plan is a Command /
    * CommandResult) already ran inside admission and release immediately,
    * preserving [[run]]'s semantics for them. */
  def admitLazy(spark: SparkSession, queueName: String)(body: => DataFrame): DataFrame = {
    reapAbandoned(spark)
    val st = states.getOrElse(queueName,
      throw new NoSuchElementException(s"no such queue: $queueName"))
    val q = st.queued.incrementAndGet()
    st.peakQueued.getAndUpdate(p => math.max(p, q))
    val got =
      try st.sem.tryAcquire(st.defn.timeoutMs, TimeUnit.MILLISECONDS)
      finally st.queued.decrementAndGet()
    if (!got) {
      st.timedOut.incrementAndGet()
      throw new AdmissionTimeout(queueName, st.defn.timeoutMs)
    }
    st.admitted.incrementAndGet()
    st.running.incrementAndGet()
    val released = new AtomicBoolean(false)
    def release(): Unit = if (released.compareAndSet(false, true)) {
      st.running.decrementAndGet(); st.sem.release()
    }
    val df =
      try {
        // pool tag for the statement's lifetime: the caller's later actions
        // on this thread schedule into the queue's pool (execution-side WLM)
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", st.defn.pool)
        body
      } catch { case t: Throwable => release(); throw t }
    import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult}
    val analyzed = df.queryExecution.analyzed
    val alreadyRan = analyzed.isInstanceOf[Command] ||
      analyzed.isInstanceOf[CommandResult] ||
      df.queryExecution.logical.isInstanceOf[Command]
    if (alreadyRan) release()
    else {
      val planRef = new java.lang.ref.WeakReference[AnyRef](analyzed)
      val listener: QueryExecutionListener = new QueryExecutionListener {
        private def hit(qe: QueryExecution): Boolean = {
          val p = planRef.get
          p != null && qe.analyzed.exists(_ eq p)
        }
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (hit(qe)) { release(); spark.listenerManager.unregister(this) }
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
          if (hit(qe)) { release(); spark.listenerManager.unregister(this) }
      }
      spark.listenerManager.register(listener)
      pendingLazy.add(PendingLazy(planRef,
        new java.lang.ref.WeakReference[AnyRef](df), released,
        () => release(), listener))
    }
    df
  }

  /** Release the slot [[admitLazy]] took for `df` once its result has been
    * consumed without a Dataset action — an RDD-level stream such as
    * Flight DoGet's `toArrowBatchRdd.toLocalIterator` fires no
    * QueryExecutionListener event. Idempotent with the listener path; a
    * no-op for a frame that was never admitted. */
  def finished(df: DataFrame): Unit = {
    val it = pendingLazy.iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.dfRef.get eq df) {
        p.release()
        df.sparkSession.listenerManager.unregister(p.listener)
        it.remove()
      }
    }
  }

  // ---- rule-based routing (reference `RuleBasedEngineSelector.java:22`:
  // ordered rules evaluated against the query context pick the target
  // engine; the OSS tree ships the seam — `resolveAndUpdateEngine` wired
  // through Foreman/AttemptManager — with the rule evaluation behind it.
  // Re-expression: ordered rules, each an arbitrary SQL boolean over the
  // statement context (user_name, roles, query_type, statement,
  // est_cost), first match by (priority, name) routes to its queue.
  // Rules are driver-side metadata; with none defined the path is free.)

  /** A defined rule: `pred` is the condition COMPILED at definition time
    * — parsed, analyzed against the RouteCtx schema, and bound to a raw
    * Catalyst predicate — so routing a statement is N in-memory
    * expression evaluations, not N analyzer invocations (r10 VERDICT
    * nit), and a malformed condition refuses at CREATE ROUTING RULE
    * instead of silently never matching. */
  final case class RoutingRule(name: String, priority: Int,
                               cond: String, queue: String,
                               pred: RouteCtx => Boolean)

  /** The 1-row statement context a rule's condition sees. */
  final case class RouteCtx(user_name: String, roles: Seq[String],
                            query_type: String, statement: String,
                            est_cost: Long)

  private val rules = TrieMap.empty[String, RoutingRule]

  /** Define (or redefine) a routing rule. The target queue must exist and
    * the condition must analyze as a boolean over the context columns at
    * definition time (the reference errors on an unknown engine; a
    * condition typo surfacing here beats one silently skipping forever). */
  def defineRule(spark: SparkSession, name: String, priority: Int,
                 cond: String, queue: String): Unit = {
    require(defined(queue),
      s"ROUTE TO names an undefined queue: $queue (CREATE QUEUE first)")
    val n = name.toLowerCase
    rules.put(n, RoutingRule(n, priority, cond, queue, compileCond(spark, cond)))
  }

  /** Analyze `cond` once against the context schema and bind it to a
    * Catalyst predicate evaluated directly per statement. Throws
    * AnalysisException on an unresolvable condition. Evaluation is
    * serialized per rule (the encoder's serializer reuses its row
    * buffer); routing is driver-side metadata, so the lock is nanoseconds
    * against an admission path measured in milliseconds. */
  private def compileCond(spark: SparkSession, cond: String): RouteCtx => Boolean = {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, Nondeterministic}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val analyzed = Seq(RouteCtx("", Nil, "", "", 0L)).toDS()
      .filter(expr(cond)).queryExecution.analyzed // throws on a bad cond
    val f = analyzed.collectFirst { case f: Filter => f }.getOrElse(
      throw new IllegalArgumentException(
        s"WHEN condition did not analyze to a boolean filter: $cond"))
    val bound = BindReferences.bindReference(f.condition, f.child.output)
    bound.foreach {
      case n: Nondeterministic => n.initialize(0)
      case _ => ()
    }
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[RouteCtx]()
      .resolveAndBind()
    val serializer = enc.createSerializer()
    val lock = new Object
    val pred: RouteCtx => Boolean =
      ctx => lock.synchronized { bound.eval(serializer(ctx)) == true }
    // probe once: a condition that ANALYZES but cannot EVALUATE as a
    // bound raw predicate (scalar subqueries, exists, ...) must refuse at
    // DEFINE time — route()'s NonFatal skip would otherwise silence it on
    // every statement forever, the exact failure mode compiling was
    // supposed to eliminate
    try pred(RouteCtx("", Nil, "", "", 0L))
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"WHEN condition cannot be evaluated as a routing predicate " +
            s"(subqueries are not supported here): $cond — " +
            s"${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
    }
    pred
  }

  def dropRule(name: String): Unit = rules.remove(name.toLowerCase)
  def clearRules(): Unit = rules.clear()
  def listRules: Seq[RoutingRule] =
    rules.values.toSeq.sortBy(r => (r.priority, r.name))
  def hasRules: Boolean = rules.nonEmpty
  /** Cost estimation is only worth paying when some rule reads it. */
  def anyRuleNeedsCost: Boolean =
    rules.values.exists(_.cond.toLowerCase.contains("est_cost"))

  /** First matching rule's queue for the statement context. A rule whose
    * queue was dropped since definition is skipped; a rule whose compiled
    * predicate throws at evaluation is skipped (one broken rule must not
    * take down every statement). No analyzer work per statement — the
    * conditions were bound at definition. */
  def route(spark: SparkSession, ctx: RouteCtx): Option[String] = {
    if (rules.isEmpty) return None
    import scala.util.control.NonFatal
    listRules.find { r =>
      defined(r.queue) &&
        (try r.pred(ctx) catch { case NonFatal(_) => false })
    }.map(_.queue)
  }

  /** Live status snapshot (backs the sys_queues view). */
  final case class QueueStatus(name: String, slots: Int, pool: String,
                               timeoutMs: Long, running: Long, queued: Long,
                               admitted: Long, timedOut: Long, peakQueued: Long)

  def status: Seq[QueueStatus] = states.values.toSeq.sortBy(_.defn.name).map { st =>
    QueueStatus(st.defn.name, st.defn.slots, st.defn.pool, st.defn.timeoutMs,
      st.running.get, st.queued.get, st.admitted.get, st.timedOut.get,
      st.peakQueued.get)
  }
}
