package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** CPU time of this JVM, read from Linux's `/proc/self`, split by thread.
  *
  * The JIT compiler threads are the JVM's own work, not the ops': after
  * three setup repetitions they still use about 40 % of the process's CPU
  * while the timed passes run, and that share moves from run to run.
  * [[work]] is therefore the process's CPU time minus its compiler
  * threads'; it keeps the client thread, Spark's task threads, the driver's
  * scheduler and AQE threads, each streaming query's execution thread and
  * the garbage collector. The compiler threads must outlive the run
  * (`-XX:-UseDynamicNumberOfCompilerThreads`), or a thread that exits would
  * take its time out of the subtraction; a thread of any other kind that
  * exits leaves its time in the process total.
  *
  * Times are in seconds, with the 10 ms resolution of `/proc` (USER_HZ 100).
  */
object Cpu {
  private val proc = Paths.get("/proc/self")
  private val userHz = 100.0

  /** utime + stime of one `stat` file; the name field may hold spaces, so
    * fields are counted from the closing parenthesis. */
  private def stat(p: Path): Double = {
    val f = Files.readString(p)
    val rest = f.substring(f.lastIndexOf(')') + 2).split(' ')
    (rest(11).toLong + rest(12).toLong) / userHz
  }

  private def threads(): Seq[(String, Path)] =
    scala.util.Using.resource(Files.list(proc.resolve("task"))) { s =>
      s.iterator.asScala.toSeq.flatMap { t =>
        try Some(Files.readString(t.resolve("comm")).trim -> t.resolve("stat"))
        catch { case _: java.io.IOException => None } // exited meanwhile
      }
    }

  private def kind(name: String): String =
    if (name.startsWith("C1 CompilerThre") || name.startsWith("C2 CompilerThre")) "jit"
    else if (name.startsWith("GC Thread") || name.startsWith("G1 ")) "gc"
    else "other"

  private lazy val jitStats: Seq[Path] =
    threads().collect { case (n, p) if kind(n) == "jit" => p }

  def process(): Double = stat(proc.resolve("stat"))

  def jit(): Double = jitStats.map(stat).sum

  /** The process's CPU time less the JIT compiler threads'. */
  def work(): Double = process() - jit()

  /** CPU time of the garbage collector's threads (a traced-run figure: it
    * lists every thread). */
  def gc(): Double = threads().collect { case (n, p) if kind(n) == "gc" =>
    try stat(p) catch { case _: java.io.IOException => 0.0 }
  }.sum
}
