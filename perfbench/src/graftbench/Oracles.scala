package graftbench

import graft.core.Types
import graft.oracle.ReferenceOracle
import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** Correctness checks, all run outside the timed region. Each returns the
  * list of problems found; an empty list is a pass. */
object Oracles {
  type State = Map[Seq[Any], Map[String, Any]]

  /** Final table vs [[ReferenceOracle]]: same keys and, per
    * (conv_id, turn_idx), the same value in every column, `text` included. */
  def tableProblems(expected: State, actual: State): Seq[String] = {
    val (missing, extra, differing) = ReferenceOracle.diff(expected, actual)
    missing.toSeq.take(3).map(k => s"missing key $k") ++
      extra.toSeq.take(3).map(k => s"unexpected key $k") ++
      differing.take(3).map { case (k, f, e, a) => s"key $k field $f: expected $e, got $a" } ++
      (if (missing.size + extra.size + differing.size > 9)
        Seq(s"${missing.size} missing, ${extra.size} extra, ${differing.size} differing") else Nil)
  }

  /** One decoded change event, reduced to what a conversation read shows. */
  final case class Ev(conv: String, turn: Long, pos: Long, tsMs: Long, rank: Int, text: String)

  /** Per-conversation replay of the decoded log in the engine's LWW order
    * (pos, ts, op rank), so a read that saw the table at applied offset `o`
    * can be checked against the state of every event with pos <= o. */
  final class PrefixOracle(events: Seq[Ev]) {
    private val byConv: Map[String, Array[Ev]] = events.groupBy(_.conv).map { case (c, es) =>
      c -> es.sortBy(e => (e.pos, e.tsMs, e.rank)).toArray }

    def convState(conv: String, offset: Long): Seq[(Long, String)] = {
      val st = mutable.TreeMap[Long, String]()
      byConv.getOrElse(conv, Array.empty[Ev]).iterator.takeWhile(_.pos <= offset).foreach { e =>
        if (e.rank == 2) st.remove(e.turn) else st(e.turn) = e.text
      }
      st.toSeq
    }

    /** (live rows, total text length) at `offset`. */
    def aggregate(offset: Long): (Long, Long) = {
      var rows = 0L; var chars = 0L
      byConv.keysIterator.foreach { c =>
        val st = convState(c, offset)
        rows += st.size; chars += st.iterator.map(x => Option(x._2).map(_.length.toLong).getOrElse(0L)).sum
      }
      (rows, chars)
    }
  }

  object PrefixOracle {
    /** From a merge-input frame (`ChangelogCodec.decode` layout). */
    def of(decoded: DataFrame): PrefixOracle = {
      val rank = Map(Types.OpInsert -> 0, Types.OpUpdate -> 1, Types.OpDelete -> 2)
      new PrefixOracle(decoded.select("conv_id", "turn_idx", "_op", "_pos", "_event_ts", "text")
        .collect().toSeq.map { r =>
          val ts = r.getAs[java.sql.Timestamp](4)
          Ev(r.getString(0), r.getAs[Number](1).longValue(), r.getLong(3),
            if (ts == null) 0L else ts.getTime, rank(r.getString(2)), r.getString(5))
        })
    }
  }

  /** A conversation fetch: turn_idx unique and ascending, and the rows equal
    * the oracle's state of that conversation at one of the offsets the table
    * was at while the read ran (so no tombstoned or stale turn shows). */
  def lookupProblems(oracle: PrefixOracle, conv: String, rows: Seq[(Long, String)],
      offsets: Seq[Long]): Seq[String] = {
    val turns = rows.map(_._1)
    val order = if (turns.zip(turns.drop(1)).forall { case (a, b) => a < b }) Nil
      else Seq(s"$conv: turn_idx not unique and ascending: ${turns.take(12).mkString(",")}")
    val state = if (offsets.exists(o => oracle.convState(conv, o) == rows)) Nil
      else Seq(s"$conv: rows match no table state in offsets ${offsets.mkString(",")}")
    order ++ state
  }

  /** A full-table aggregate: (live rows, total text length) equals the
    * oracle's at one of the offsets the table was at during the read. */
  def scanProblems(oracle: PrefixOracle, got: (Long, Long), offsets: Seq[Long]): Seq[String] =
    if (offsets.exists(o => oracle.aggregate(o) == got)) Nil
    else Seq(s"aggregate $got matches no table state in offsets ${offsets.mkString(",")}")

  // ------------------------------------------------------------------ SinkOp

  /** (target, action, key, field, score, value, ord) */
  type Op = (String, String, String, String, Double, String, Long)
  /** (target, structure, key, field, elem, uid, value, score, ord, marker) */
  type StateRow = (String, String, String, String, String, String, String, Double, Long, Boolean)

  val Removals: Set[String] = Set("DEL", "HDEL", "SREM", "ZREM", "LREM")

  /** Single-threaded in-order applier of the keyed-store op algebra: the
    * last op per (structure, key, field/member) wins and a winning removal
    * stays as a marker row; a list keeps every RPUSH later than the last
    * LREM of the same value (uid = the push's ord, duplicates kept), and
    * that LREM stays as a marker row. */
  def sinkopFold(ops: Seq[Op]): Set[StateRow] = {
    val last = mutable.Map[(String, String, String, String), (String, String, Double, Long)]()
    val pushes = mutable.Map[(String, String), mutable.ArrayBuffer[(String, Long)]]()
    val lastRem = mutable.Map[(String, String, String), Long]()
    ops.sortBy(_._7).foreach { case (t, a, k, f, s, v, ord) => a match {
      case "SET" | "DEL" => last((t, "string", k, "")) = (a, if (a == "DEL") null else v, 0.0, ord)
      case "HSET" | "HDEL" => last((t, "hash", k, f)) = (a, if (a == "HDEL") null else v, 0.0, ord)
      case "SADD" | "SREM" => last((t, "set", k, v)) = (a, if (a == "SREM") null else v, 0.0, ord)
      case "ZADD" => last((t, "zset", k, v)) = (a, v, s, ord)
      case "ZREM" => last((t, "zset", k, v)) = (a, null, 0.0, ord)
      case "RPUSH" => pushes.getOrElseUpdate((t, k), mutable.ArrayBuffer()) += ((v, ord))
      case "LREM" =>
        pushes.get((t, k)).foreach(_.filterInPlace(_._1 != v))
        lastRem((t, k, v)) = ord
      case other => sys.error(s"unknown action $other")
    }}
    val out = mutable.Set[StateRow]()
    last.foreach { case ((t, st, k, fe), (a, v, s, o)) =>
      val (field, elem) = st match {
        case "hash" => (fe, "")
        case "string" => ("", "")
        case _ => ("", fe)
      }
      out += ((t, st, k, field, elem, "", v, s, o, Removals(a)))
    }
    pushes.foreach { case ((t, k), b) => b.foreach { case (v, o) =>
      out += ((t, "list", k, "", v, o.toString, v, 0.0, o, false)) } }
    lastRem.foreach { case ((t, k, v), o) => out += ((t, "list", k, "", v, "", null, 0.0, o, true)) }
    out.toSet
  }

  def stateRows(df: DataFrame): Set[StateRow] =
    df.select("target", "structure", "key", "field", "elem", "uid", "value", "score", "ord", "marker")
      .collect().map { (r: Row) =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4),
          r.getString(5), r.getString(6), if (r.isNullAt(7)) 0.0 else r.getDouble(7),
          r.getLong(8), r.getBoolean(9))
      }.toSet

  def sinkopProblems(expected: Set[StateRow], actual: Set[StateRow]): Seq[String] = {
    val missing = expected -- actual
    val extra = actual -- expected
    missing.toSeq.take(3).map(x => s"missing state row $x") ++
      extra.toSeq.take(3).map(x => s"unexpected state row $x") ++
      (if (missing.size + extra.size > 6) Seq(s"${missing.size} missing, ${extra.size} extra") else Nil)
  }
}
