package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the event log (no extra dependency). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => str(other.toString)
  }
}

/** The run's event log: one JSON object per line, flushed as written, so a
  * run killed by the watchdog still leaves every finished record behind.
  * `run.py` turns these records into metrics.
  */
final class Events(path: String) {
  private val out = new BufferedWriter(new FileWriter(path, true))
  private val ids = new AtomicLong(0)

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.write(Json.render(Map("k" -> kind) ++ fields.toMap))
    out.newLine()
    out.flush()
  }

  def nowMs: Double = System.nanoTime() / 1e6

  /** Every attempted operation opens with op_start; only an op_end with
    * ok=true makes it a success. An op that never ends counts as failed.
    */
  def opStart(kind: String): Long = {
    val id = ids.incrementAndGet()
    emit("op_start", "id" -> id, "kind" -> kind, "t" -> nowMs)
    id
  }

  def opEnd(id: Long, ok: Boolean, err: String = null): Unit =
    emit("op_end", "id" -> id, "ok" -> ok, "t" -> nowMs, "err" -> Option(err))

  /** Run `body` as one counted operation; a thrown exception fails it. */
  def op[A](kind: String)(body: => A): Option[A] = {
    val id = opStart(kind)
    try {
      val a = body
      opEnd(id, ok = true)
      Some(a)
    } catch {
      case e: Throwable =>
        opEnd(id, ok = false, err = s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def sample(name: String, v: Double): Unit = emit("sample", "name" -> name, "v" -> v)
  def metric(name: String, v: Double): Unit = emit("metric", "name" -> name, "v" -> v)
  /** A correctness check is one more counted operation. */
  def check(name: String, ok: Boolean, detail: String = null): Unit =
    opEnd(opStart(s"check.$name"), ok, if (ok) null else detail)

  def close(): Unit = synchronized(out.close())
}

/** Spans recorded by the benchmark around its calls into each layer. Kept in
  * memory and written to the event log once, at the end of the traced run.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, session: String, name: String,
      start: Double, end: Double)
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long]

  def span[A](name: String, session: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = Option(current.get).map(_.longValue).getOrElse(0L)
      current.set(id)
      val t0 = System.nanoTime() / 1e6
      try body
      finally {
        spans.add(Span(id, parent, session, name, t0, System.nanoTime() / 1e6))
        if (parent == 0L) current.remove() else current.set(parent)
      }
    }

  def flush(ev: Events): Unit = spans.asScala.foreach { s =>
    ev.emit("span", "id" -> s.id, "parent" -> s.parent, "session" -> s.session,
      "name" -> s.name, "start" -> s.start, "end" -> s.end)
  }
}

/** Heap in use after each collection over a window, in MB: every
  * collection the JVM reports while the window is open adds one value, so
  * what running jobs hold (task memory pages, job caches) counts.
  */
final class HeapAfterGc {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val mb = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        mb.add(used / 1048576.0)
      }
  }
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case b: NotificationEmitter => b }

  beans.foreach(_.addNotificationListener(listener, null, null))

  /** Stop listening; the values recorded, in order. */
  def stop(): Seq[Double] = {
    beans.foreach(b => try b.removeNotificationListener(listener) catch { case _: Exception => () })
    mb.asScala.map(_.doubleValue).toSeq
  }
}

object Jvm {
  /** Used heap after a full collection, in MB. Collected twice: the first
    * collection lets Spark's ContextCleaner drop blocks whose owners died,
    * the second reclaims what that freed.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }

  def sizeOf(f: File, suffix: String = ""): (Long, Int) =
    if (f.isDirectory)
      Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(sizeOf(_, suffix))
        .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.getName.endsWith(suffix) && !f.getName.startsWith(".")) (f.length, 1)
    else (0L, 0)
}
