package graft.plans

import graft.functions.{BloomBitsRef, BloomMightContain, LongBloom}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/**
 * Optimizer rule generalizing the decontamination Bloom prefilter
 * ([[graft.pipeline.Decontaminate.contaminatedIdsBloom]]) into an
 * automatic pre-shuffle guard for selective equi-joins: an INNER or
 * LEFT SEMI join on an integral key, whose build side is filter-sized
 * but whose probe side is large, gets
 * `Filter(bloom_might_contain(key), probe)` injected UNDER the join —
 * only probable matches ever enter the probe-side shuffle.
 *
 * Result-identical by construction: a Bloom filter has no false
 * negatives, so no surviving join row is ever dropped; false positives
 * are removed by the exact join that follows. Inner and left-semi
 * shapes only — prefiltering the preserved side of an outer/anti join
 * would drop rows the join must keep.
 *
 * The scale case (same as the decontamination path): a build side too
 * big for a broadcast-hash relation (~50+ bytes/entry) still fits as
 * ~`bitsPerItem` BITS per entry, and without any filter a
 * non-broadcastable build side degrades the join to a full shuffle of
 * EVERY probe row. The filter rides the plan as one reference object
 * per executor ([[BloomMightContain]]); the build itself is the
 * distributed tree-OR ([[LongBloom.buildDistributed]]) — the driver
 * receives filter-sized data, never the keys.
 *
 * OPT-IN via `spark.graft.bloomJoin.enabled` (default false): the
 * build runs one Spark job at planning time, a cost that should be a
 * deliberate choice. Guards:
 *  - `spark.graft.bloomJoin.maxBuildBytes` (default 64 MiB): logical
 *    size estimate above which the build side is too big to scan
 *    cheaply at planning time;
 *  - `spark.graft.bloomJoin.minBuildBytes` (default: the session's
 *    autoBroadcastJoinThreshold): build sides at or below it skip the
 *    rule — they broadcast-hash-join anyway, which never shuffles the
 *    probe side, so a prefilter is pure overhead there;
 *  - probe side must be at least 4x the build side's estimate —
 *    filtering a probe the same size as the build saves nothing;
 *  - already-filtered probes (our own marker present) are skipped, so
 *    the rule converges at the optimizer fixpoint.
 *
 * Built filters cache by (canonicalized-build-plan semanticHash, key
 * ordinal) on the rule INSTANCE, with a recursion-safe
 * get → build outside the lock → putIfAbsent discipline (the build
 * action re-enters the optimizer) and a size cap. A session built with
 * GraftExtensions gets a fresh instance per optimizer run, so a filter
 * lives for one query's optimization: the fixpoint iterations reuse
 * it, the next query builds its own (`install`, for tests and
 * interactive use, keeps one instance per session). That is on
 * purpose, unlike the
 * session-wide spatial-join planner state
 * ([[graft.tools.SpatialJoin.plannerState]]), whose values change
 * speed only. A Bloom filter is correct only for the exact key set it
 * was built from, and a plan fingerprint does not see the data behind
 * a scan change; a cache that outlives the query would need its own
 * argument for why it cannot go stale.
 */
case class BloomJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.bloomJoin.enabled").exists(_.toBoolean)
  private def maxBuildBytes: Long =
    spark.conf.getOption("spark.graft.bloomJoin.maxBuildBytes")
      .map(_.toLong).getOrElse(64L << 20)
  /** Build sides at or below this estimate are SKIPPED: they broadcast
    * on their own, and a broadcast-hash join never shuffles the probe
    * side — a Bloom prefilter there is pure planning + per-row
    * overhead. Defaults to the session's autoBroadcastJoinThreshold;
    * set to -1 to filter regardless (tests / forced-SMJ sessions). */
  private def minBuildBytes: Long =
    spark.conf.getOption("spark.graft.bloomJoin.minBuildBytes")
      .map(_.toLong)
      .getOrElse(spark.sessionState.conf.autoBroadcastJoinThreshold)
  private def bitsPerItem: Int =
    spark.conf.getOption("spark.graft.bloomJoin.bitsPerItem")
      .map(_.toInt).getOrElse(16)

  private val builtFilters =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, String, Int), (BloomBitsRef, Int)]
  // FIFO eviction order: CHM iteration order is a STABLE bucket order,
  // so "evict the iterator's first entry" picks the same victim every
  // time — a hot filter landing there would be rebuilt on every insert.
  // Oldest-insert-first spreads the churn round-robin instead.
  private val insertionOrder =
    new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, String, Int)]
  private val MaxCachedFilters = 32
  /** Guards ONLY the evict+insert step (driver-side, rare, O(1)) so
    * concurrent rule invocations can't each poll a victim (over-evict)
    * or transiently exceed capacity. The filter BUILD stays outside the
    * lock: it runs a Spark action, and a Spark action under a lock an
    * optimizer rule also takes is the re-entrant-optimize livelock this
    * file already avoids in the get→compute→putIfAbsent shape. */
  private val cacheLock = new Object

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case other => Seq(other)
  }

  /** The probe side already carries OUR filter on this key — ANYWHERE
    * in its subtree, not just at the root: in the extension path the
    * rule runs inside the Operator Optimization fixpoint interleaved
    * with predicate pushdown, which moves the injected Filter below
    * the probe's Project/Join nodes. A root-only check would re-inject
    * every iteration (duplicate filters + a planning-time build job
    * per iteration until the batch's max-iteration abort). Depth
    * scanning can also match a MANUALLY placed bloom filter on the
    * same key (e.g. the decontamination path) — skipping injection
    * there is the right call anyway. */
  private def alreadyFiltered(probe: LogicalPlan, key: AttributeReference): Boolean =
    probe.exists {
      case Filter(cond, _) => conjuncts(cond).exists {
        case BloomMightContain(c, _, _) =>
          c.references.toSeq.map(_.exprId).contains(key.exprId)
        case _ => false
      }
      case _ => false
    }

  private def bloomFor(buildSide: LogicalPlan,
                       buildKey: AttributeReference): (BloomBitsRef, Int) = {
    val canon = buildSide.canonicalized
    val ord = buildSide.output.indexWhere(_.exprId == buildKey.exprId)
    // a WRONG cache hit here is silent wrong results (the filter's
    // no-false-negative contract only holds for its own key set), so
    // the key carries semanticHash + structural hashCode (two
    // independent 32-bit hashes of the canonicalized plan) + the full
    // schema string + the key ordinal — collision odds are negligible
    // without retaining the plan tree itself (driver leak)
    val key = (canon.semanticHash(), canon.hashCode(),
      canon.schema.catalogString, ord)
    builtFilters.get(key) match {
      case v: (BloomBitsRef, Int) @unchecked if v != null => v
      case _ =>
        val keysDf = Bridge.ofRows(spark, buildSide)
          .select(Bridge.column(buildKey).cast("long"))
          .na.drop().distinct()
        val (words, k) = LongBloom.buildDistributed(keysDf, bitsPerItem)
        val v = (new BloomBitsRef(words), k)
        // evict the OLDEST insert at capacity, not the whole map (and
        // not a stable bucket-order victim): a workload cycling through
        // MaxCachedFilters+1 build plans then rebuilds each filter once
        // per cycle instead of the same one on every query. Locked so
        // two racing inserts can't both poll a victim or leave the map
        // over capacity; a thread losing the putIfAbsent race adopts
        // the winner's filter (same key ⇒ same key set ⇒ same
        // no-false-negative contract) instead of orphaning its own.
        cacheLock.synchronized {
          val winner = builtFilters.putIfAbsent(key, v)
          if (winner == null) {
            insertionOrder.offer(key)
            while (builtFilters.size > MaxCachedFilters) {
              val victim = insertionOrder.poll()
              if (victim == null) builtFilters.clear() // queue drift backstop
              else builtFilters.remove(victim)
            }
            v
          } else winner
        }
    }
  }

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transform {
      case j @ Join(l, r, jt, Some(cond), _) if jt == Inner || jt == LeftSemi =>
        val equi = conjuncts(cond).collectFirst {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if integral(a) && integral(b) &&
                l.outputSet.contains(a) && r.outputSet.contains(b) => (a, b)
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if integral(a) && integral(b) &&
                l.outputSet.contains(b) && r.outputSet.contains(a) => (b, a)
        }
        equi match {
          case Some((lk, rk)) =>
            val lBytes = l.stats.sizeInBytes
            val rBytes = r.stats.sizeInBytes
            // semi joins always probe LEFT (right rows never survive);
            // inner joins probe the larger side
            val buildLeft = jt == Inner && lBytes * 4 <= rBytes
            val probeRight = buildLeft
            val (build, bKey, probe, pKey) =
              if (probeRight) (l, lk, r, rk) else (r, rk, l, lk)
            val worthIt =
              build.stats.sizeInBytes <= maxBuildBytes &&
                build.stats.sizeInBytes > minBuildBytes &&
                probe.stats.sizeInBytes >= build.stats.sizeInBytes * 4
            if (!worthIt || alreadyFiltered(probe, pKey)) j
            else {
              val (bits, k) = bloomFor(build, bKey)
              val guarded = Filter(
                BloomMightContain(asLong(pKey), bits, k), probe)
              if (probeRight) j.copy(right = guarded)
              else j.copy(left = guarded)
            }
          case None => j
        }
    }
}

object BloomJoinRewrite {
  /** Install on an existing session (tests / interactive use); new
    * sessions get it via `spark.sql.extensions=graft.plans.GraftExtensions`. */
  def install(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[BloomJoinRewrite]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BloomJoinRewrite(spark)
  }
}
