package graft.core

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

/** Minute-truncated watermark delimiting the half-open incremental
  * window `(last, this]`.
  *
  * Codec mirrors the reference's `'yyyyMMdd HH:mm'` lastruntime.log
  * (reference pyCassElastic.py:140-170) with two deliberate fixes:
  *   - the write is atomic (temp file + rename), and
  *   - callers commit it only after a successful run, fixing the
  *     reference's write-even-on-error gap (pyCassElastic.py:138).
  *
  * At cluster scale this tiny driver-side state file is superseded by a
  * Structured Streaming checkpoint (see graft.streaming.PeriodicSync);
  * both express the same contract: the next run owns exactly
  * `(last, this]` on the version column.
  */
object Watermark {

  /** Half-open incremental window on epoch-millis versions. */
  final case class Span(lastMs: Long, thisMs: Long) {
    require(thisMs >= lastMs, s"window end $thisMs before start $lastMs")
    def contains(v: Long): Boolean = v > lastMs && v <= thisMs
  }

  private val fmt = DateTimeFormatter.ofPattern("yyyyMMdd HH:mm")

  def truncToMinute(epochMillis: Long): Long = epochMillis - epochMillis % 60000L

  def encode(epochMillis: Long): String =
    LocalDateTime
      .ofInstant(Instant.ofEpochMilli(truncToMinute(epochMillis)), ZoneOffset.UTC)
      .format(fmt)

  def decode(s: String): Long =
    LocalDateTime.parse(s.trim, fmt).toInstant(ZoneOffset.UTC).toEpochMilli

  def read(path: String): Option[Long] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Some(decode(Files.readString(p))) else None
  }

  def write(path: String, epochMillis: Long): Unit =
    graft.sources.Fs.replace(Paths.get(path), encode(epochMillis))

  /** New window ending now (minute-truncated), starting at the persisted
    * watermark. Reference computes the same pair at pyCassElastic.py:156-163.
    * If the clock regressed below the stored watermark, the end clamps to
    * the start — an EMPTY window — rather than throwing and killing the
    * caller's loop; the window resumes once the clock catches up.
    */
  def nextSpan(path: String, nowMillis: Long): Option[Span] =
    read(path).map(last => Span(last, math.max(last, truncToMinute(nowMillis))))
}
