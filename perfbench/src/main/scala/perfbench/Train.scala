package perfbench

import java.nio.file.Paths

/** Class-loading training run, made once per build: sets up and warms
  * every listed workload in one JVM so that the JVM started with
  * `-XX:ArchiveClassesAtExit` archives the classes they load. Later
  * runs map that archive instead of reading the same classes out of
  * hundreds of jars. Usage: `Train <work dir> <workload>...` */
object Train {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0))
    val spark = Main.session(Jvm.cores, work)
    args.drop(1).foreach { name =>
      val wl = Main.workload(name, spark, 0L)
      wl.setup(work.resolve(name))
      wl.warmUp()
    }
    spark.stop()
  }
}
