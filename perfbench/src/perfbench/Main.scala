package perfbench

/** Command-line entry of the benchmark JVM (see `perfbench/README.md`):
  * - `run --workload W --seed N --seconds S --trace 0|1`: one run;
  * - `selftest`: the benchmark's own arithmetic;
  * - `golden`: regenerate the golden fingerprints;
  * - `classify <sf dir> <warm-up dir>`: re-derive the registry
  *   partition. */
object Main {
  def main(args: Array[String]): Unit = {
    val code = try args.headOption match {
      case Some("run") => Run.run(args.toSeq.tail)
      case Some("selftest") => SelfTest.run()
      case Some("golden") => Golden.main(); 0
      case Some("classify") => Classify.main(args.tail); 0
      case _ =>
        System.err.println("usage: perfbench.Main run|selftest|golden|classify ...")
        2
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    // halt: Spark and server threads must not hold the JVM open
    Runtime.getRuntime.halt(code)
  }
}
