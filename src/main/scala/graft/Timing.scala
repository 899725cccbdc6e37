package graft

/** Step timing for perf triage: with `GRAFT_TIMING=1` each step prints a
  * `[graft-timing] <label> <seconds>s` line (labels like
  * `store[facts].delta.add`). It sits outside every `graft.<module>`
  * package, so a stage's call site still names the module whose code runs
  * inside `f`. */
object Timing {
  def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (sys.env.get("GRAFT_TIMING").contains("1"))
      println(f"[graft-timing] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }
}
