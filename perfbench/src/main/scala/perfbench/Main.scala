package perfbench

/** Entry point. Usage:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  * }}}
  * Prints a report and, as the last line of standard output, one JSON
  * object: `{"correct", "attempted", "failed", "metrics"}`. */
object Main {
  final case class Args(workload: Shape, seed: Long, seconds: Double, trace: Boolean,
      workDir: java.io.File)

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload")
      shape <- Shapes.byName(w).toRight(
        s"unknown workload '$w' (one of ${Shapes.all.map(_.name).mkString(", ")})")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      trace <- need("trace").flatMap {
        case "0" => Right(false)
        case "1" => Right(true)
        case t => Left(s"bad --trace $t")
      }
      dir <- need("work-dir")
    } yield Args(shape, seed, secs, trace, new java.io.File(dir).getAbsoluteFile)
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      sys.exit(2)
    case Right(args) =>
      val code = new Bench(args).run()
      sys.exit(code)
  }
}
