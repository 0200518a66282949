package graft.queries

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one session-scoped store for artifacts that several queries of
  * a family build once and share: the connector setup namespace, the
  * near-dup pair and cluster-label frames, the trained IVF model with
  * its PQ codebook, codes and ADC table, and the BPE merge list.
  *
  * An entry is keyed by (session token, dir, artifact name), built at
  * most once, and carries the release action it was registered with.
  * A build that throws stores nothing, so the next request builds
  * again. Builds run under their own entry's lock, never inside the
  * map's update, so a build may request other artifacts (the PQ codes
  * build reads the codebook, which reads the IVF model) while
  * concurrent requests for one key still build once.
  *
  * [[release]] frees everything one (session, dir) built; [[releaseAll]]
  * frees every entry (test and tool teardown). Entries whose
  * SparkContext has stopped are dropped on the next miss without
  * running their release: their storage died with the context.
  */
private[graft] object ArtifactCache {

  final private case class Key(session: String, dir: String, name: String)

  final private class Entry(val sc: SparkContext, val release: Any => Unit) {
    var value: Option[Any] = None // guarded by this; None until built
  }

  private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** A driver-side artifact with no storage to free. */
  def apply[T](s: SparkSession, dir: String, name: String)(build: => T): T =
    apply(s, dir, name, (_: T) => ())(build)

  /** The artifact `name` for (session, dir), built by `build` on first
    * request; `release` frees its storage when the entry is released.
    */
  @annotation.tailrec
  def apply[T](s: SparkSession, dir: String, name: String,
      release: T => Unit)(build: => T): T = {
    val key = Key(SessionKey.id(s), dir, name)
    val e = entries.get(key) match {
      case null =>
        entries.values.removeIf(_.sc.isStopped)
        val fresh = new Entry(s.sparkContext, v => release(v.asInstanceOf[T]))
        Option(entries.putIfAbsent(key, fresh)).getOrElse(fresh)
      case found => found
    }
    val got = e.synchronized {
      if (e.value.isEmpty && (entries.get(key) eq e)) {
        val v = try build catch { case t: Throwable =>
          entries.remove(key, e); throw t
        }
        e.value = Some(v)
      }
      e.value
    }
    got match {
      case Some(v) => v.asInstanceOf[T]
      // the entry failed or was released while this caller waited
      case None => apply(s, dir, name, release)(build)
    }
  }

  /** Release every artifact the session built for `dir`. */
  def release(s: SparkSession, dir: String): Unit = {
    val id = SessionKey.id(s)
    entries.keySet.asScala.filter(k => k.session == id && k.dir == dir)
      .foreach(drop)
  }

  /** Release every artifact of every session. */
  def releaseAll(): Unit = entries.keySet.asScala.foreach(drop)

  /** Remove an entry, then run its release once any build in flight
    * has finished (a release racing a context stop is a no-op). */
  private def drop(key: Key): Unit =
    Option(entries.remove(key)).foreach { e =>
      e.synchronized {
        e.value.foreach { v =>
          if (!e.sc.isStopped)
            try e.release(v) catch { case NonFatal(_) => () }
        }
        e.value = None
      }
    }

  /** Test hook: names of the artifacts built for (session, dir). */
  private[graft] def built(s: SparkSession, dir: String): Set[String] = {
    val id = SessionKey.id(s)
    entries.asScala.collect {
      case (k, e) if k.session == id && k.dir == dir &&
          e.synchronized(e.value.isDefined) => k.name
    }.toSet
  }

  /** Test hook: the built artifact `name` for (session, dir), if any. */
  private[graft] def peek[T](s: SparkSession, dir: String,
      name: String): Option[T] =
    Option(entries.get(Key(SessionKey.id(s), dir, name)))
      .flatMap(e => e.synchronized(e.value)).map(_.asInstanceOf[T])
}
