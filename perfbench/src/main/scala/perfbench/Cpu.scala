package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.util.Try

/** CPU time this JVM spends on the program: every thread's, ended threads
  * too, less the JIT compiler threads'. JIT compilation is the JVM warming
  * up, and how much of it lands in a given op depends on scheduling. Time
  * a thread waits for a CPU, whether behind other threads or behind the
  * hypervisor's other guests (steal), is not CPU time, so a contended host
  * inflates it far less than wall time. `run.py` turns off the JVM's
  * dynamic compiler threads, so the compiler threads found at the first
  * call are all there are. */
object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private lazy val compilerThreads: Seq[Path] = {
    val tasks = Paths.get("/proc/self/task")
    Option(tasks.toFile.list()).map(_.toSeq).getOrElse(Nil).map(tasks.resolve).filter { t =>
      val comm = Try(Files.readString(t.resolve("comm"))).getOrElse("")
      comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
    }
  }

  /** A thread's run time in ns: the first field of its schedstat. */
  private def runNs(task: Path): Long =
    Try(Files.readString(task.resolve("schedstat")).trim.split(" ")(0).toLong).getOrElse(0L)

  /** The JIT compiler threads' CPU time so far, in ns. */
  def jitNs: Long = compilerThreads.map(runNs).sum

  /** The program's CPU time so far, in ns. */
  def workNs: Long = {
    val jit = jitNs
    os.getProcessCpuTime - jit
  }
}
