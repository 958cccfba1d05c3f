package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native analogue of the reference's `Channel m a b`
  * (Tubes/Channel.hs:81): a stream transformer, i.e. a function from one
  * declarative plan to another. Composition (`Category .` /
  * `><`, Core.hs:152) is plain function composition — Catalyst then
  * optimizes ACROSS channel boundaries (pushdown, pruning, fusion into one
  * WholeStageCodegen span), which is the payoff of being declarative
  * where the reference steps a coroutine.
  */
final case class Channel[A, B](run: Dataset[A] => Dataset[B]) {

  /** `><` / Category `.` (Channel.hs:132). */
  def andThen[C](next: Channel[B, C]): Channel[A, C] =
    Channel(ds => next.run(run(ds)))

  /** Profunctor `lmap` (Channel.hs:126). */
  def lmap[Z](f: Dataset[Z] => Dataset[A]): Channel[Z, B] =
    Channel(ds => run(f(ds)))

  /** Profunctor `rmap` (Channel.hs:126). */
  def rmap[C](f: Dataset[B] => Dataset[C]): Channel[A, C] =
    Channel(ds => f(run(ds)))

  def dimap[Z, C](pre: Dataset[Z] => Dataset[A])
                 (post: Dataset[B] => Dataset[C]): Channel[Z, C] =
    Channel(ds => post(run(pre(ds))))
}

object Channel {
  /** `cat` (Util.hs:66) / Category `id` (Channel.hs:132): plan no-op. */
  def id[A]: Channel[A, A] = Channel(identity)

  /** Arrow `arr` (Channel.hs:152): pure columnar transform. */
  def select(cols: Column*): Channel[Row, Row] =
    Channel(ds => ds.toDF().select(cols: _*))

  def where(pred: Column): Channel[Row, Row] =
    Channel(ds => ds.toDF().filter(pred))

  def withColumn(name: String, c: Column): Channel[Row, Row] =
    Channel(ds => ds.toDF().withColumn(name, c))

  /** Arrow `first` (Channel.hs:154): transform a subset of columns,
    * pass the rest through untouched. `firstCols` names the "fst" of the
    * pair; `f` maps those columns; remaining columns ride along. */
  def first(f: Map[String, Column]): Channel[Row, Row] =
    Channel { ds =>
      val df = ds.toDF()
      df.select(df.columns.toIndexedSeq.map { n =>
        f.get(n).map(_.as(n)).getOrElse(col(n))
      }: _*)
    }

  /** Arrow `second` (the Channel.hs:154 dual): transform the "snd"
    * component, pass the rest through. Rows encode pairs as named
    * columns, so the product is commutative and the swap isomorphism
    * is the identity — `second f = swap >>> first f >>> swap`
    * therefore coincides with `first f` (the lawful definition, not a
    * shortcut; asserted in PropertySpec). Kept as its own combinator so
    * the Arrow surface is complete and call sites can say which
    * component they mean. */
  def second(f: Map[String, Column]): Channel[Row, Row] = first(f)

  /** ArrowChoice `+++` (Channel.hs:169): rows where `pred` holds flow
    * through `l`, the rest through `r`; results are tagged and unioned.
    * Both branches stay declarative (two filters of one scan — Catalyst
    * reuses the exchange), no per-row dispatch. */
  def choice(pred: Column, l: Channel[Row, Row], r: Channel[Row, Row],
             tag: String = "side"): Channel[Row, Row] =
    Channel { ds =>
      val df = ds.toDF()
      val lt = l.run(df.filter(pred)).withColumn(tag, lit("L"))
      val rt = r.run(df.filter(!pred)).withColumn(tag, lit("R"))
      lt.unionByName(rt)
    }

  /** Arrow `&&&` fan-out (the reference's `avg` demo, Channel.hs:68):
    * run two columnar transforms over the same element and pair the
    * results — a single projection, zero duplication of the upstream. */
  def fanout(outs: (String, Column)*): Channel[Row, Row] =
    Channel(ds => ds.toDF().select(outs.map { case (n, c) => c.as(n) }: _*))

  /** The reference's stateful `total` channel (Channel.hs:60): a running
    * fold emitted per element. `partition` keys the state for scale-out
    * (per-key running aggregates shuffle once on the key). */
  def scan(out: String, agg: Column, order: Seq[Column],
           partition: Seq[Column] = Nil): Channel[Row, Row] =
    Channel { ds =>
      val w0 = if (partition.isEmpty) Window.orderBy(order: _*)
               else Window.partitionBy(partition: _*).orderBy(order: _*)
      val df = if (partition.isEmpty) Source.globalOrderGuard(ds.toDF(), w0)
               else ds.toDF()
      df.withColumn(
        out, agg.over(w0.rowsBetween(Window.unboundedPreceding, 0)))
    }

  /** `tee` (Channel.hs:218): pass elements downstream unchanged while a
    * sink observes them. The upstream is cached only for the duration of
    * the sink's action and unpersisted before returning — repeated `tee`
    * use must not accrete cached partitions for the session lifetime.
    * The downstream consumer therefore recomputes the upstream; for a
    * metric prefer [[observe]] (no extra pass, no cache), and to share
    * one pass between sink and downstream, [[Pin]] the upstream. */
  def tee(sink: Sink[Row]): Channel[Row, Row] =
    Channel { ds =>
      val df = ds.toDF().persist()
      try sink.run(df) finally df.unpersist(blocking = false)
      df
    }

  /** Lightweight `tee`: attach observation metrics that are collected as
    * a side effect of whatever action runs downstream — zero extra
    * passes, zero caching (Spark-native `Dataset.observe`). Read the
    * metrics from the returned Observation after an action. */
  def observe(obs: org.apache.spark.sql.Observation,
              metrics: (String, Column)*): Channel[Row, Row] =
    Channel { ds =>
      val named = metrics.map { case (n, c) => c.as(n) }
      ds.toDF().observe(obs, named.head, named.tail: _*)
    }

  /** The reference's Channel Monad (Channel.hs:141): an arbitrary
    * per-element state machine — state lives per key group and advances
    * in `orderCols` order (executor-local sequential loop, hash-
    * partitioned across keys: the honest distributed form of a
    * coroutine's private state; same contract as the streaming
    * `mapGroupsWithState` twin).
    *
    * Implemented as a secondary sort: repartition on the key columns,
    * sort (key, order) WITHIN each partition, then stream rows through
    * `step`, resetting state at key boundaries. No group is ever
    * materialized in memory — a skewed key (one user with 10⁸ events)
    * spills in the sort and then streams, where a
    * `groupByKey.flatMapGroups` + in-memory sort would OOM. */
  def statefulMap[K, S, B](keyCols: Seq[Column], orderCols: Seq[Column],
      key: Row => K, zero: S)(
      step: (S, Row) => (S, B))(
      implicit be: org.apache.spark.sql.Encoder[B]): Channel[Row, B] =
    Channel { ds =>
      ds.toDF()
        .repartition(keyCols: _*)
        .sortWithinPartitions(keyCols ++ orderCols: _*)
        .mapPartitions { rows =>
          var cur: Option[K] = None
          var state = zero
          rows.map { r =>
            val k = key(r)
            if (!cur.contains(k)) { cur = Some(k); state = zero }
            val (s2, b) = step(state, r)
            state = s2
            b
          }
        }
    }
}
