package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** One attempted operation. `phase` is `untimed` or `timed`; `kind` is
  * `face` or `request`. A face records its output fingerprint (`rows`,
  * `fp`); a request records its status and body size. `ok` is false when
  * the operation threw, answered 5xx or did not match its expected body;
  * `err` says why. Times are wall-clock milliseconds. */
final case class OpRec(phase: String, kind: String, name: String,
    startMs: Double, durMs: Double, ok: Boolean, rows: Long = -1L,
    fp: Long = 0L, status: Int = 0, bytes: Long = 0L, err: String = "")

object OpRec {
  val Header: String =
    "phase\tkind\tname\tstart_ms\tdur_ms\tok\trows\tfp\tstatus\tbytes\terr"

  private def clean(s: String): String =
    s.replaceAll("[\t\r\n]+", " ").take(300)

  def line(r: OpRec): String =
    Seq(r.phase, r.kind, r.name, f"${r.startMs}%.3f", f"${r.durMs}%.4f",
      if (r.ok) "1" else "0", r.rows.toString, r.fp.toString, r.status.toString,
      r.bytes.toString, clean(r.err)).mkString("\t")

  def write(path: String, recs: Iterable[OpRec]): Unit =
    Files.write(Paths.get(path),
      (Header +: recs.map(line).toSeq).mkString("", "\n", "\n").getBytes(UTF_8))
}

object Out {
  private val start = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with seconds since process start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - start) / 1e3}%7.1fs] $msg")
}

/** Minimal JSON writer for the run summary (numbers, strings, sequences
  * and string-keyed maps). Doubles are written locale-independently. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'           => "\\\""
    case '\\'          => "\\\\"
    case c if c < 0x20 => f"\\u${c.toInt}%04x"
    case c             => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case b: Boolean                 => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                  => java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float                   => apply(f.toDouble)
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_]            => xs.map(apply).mkString("[", ",", "]")
    case o                          => str(o.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), (apply(v) + "\n").getBytes(UTF_8))
}
