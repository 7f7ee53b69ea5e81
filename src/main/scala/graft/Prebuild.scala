package graft

/** Shared timing loop behind the suites' prebuild item lists (Bench's
  * `builds` / `sf1_builds` sections). Sentinels in the seconds column:
  *
  *   - `Skipped` (-1.0): the deadline `go()` said stop before the item
  *     ran; the memo falls back to lazy first-family-member charging.
  *   - `Failed` (-2.0): the build THREW. Same lazy fallback at query
  *     time, but the artifact must tell a failed build apart from a
  *     deliberate skip — a builds phase reporting `complete:true` over
  *     a silently failed item would fake the "per-query numbers are
  *     warm" claim (ADVICE r11).
  *
  * Positive values are the built item's wall-clock seconds.
  */
object Prebuild {
  val Skipped: Double = -1.0
  val Failed: Double = -2.0

  def timed(items: Seq[(String, () => Unit)],
      go: () => Boolean): Seq[(String, Double)] =
    items.map { case (name, f) =>
      if (!go()) name -> Skipped
      else {
        val t0 = System.nanoTime()
        try { f(); name -> (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[prebuild] $name failed: ${e.getMessage}")
          name -> Failed
        }
      }
    }
}
