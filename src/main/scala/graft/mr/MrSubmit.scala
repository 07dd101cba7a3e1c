package graft.mr

import org.apache.spark.sql.SparkSession

/** CLI analog of the reference's `mapreduce-submit` console script
  * (`/root/reference/mapreduce/submit.py:21-60`): same flags, same
  * defaults, same submission summary. The difference is the control plane
  * underneath — submit.py serializes a `new_manager_job` message to a TCP
  * Manager, while here the SparkSession IS the manager, so submission is a
  * direct [[MapReduceEngine.submit]] call. `--host`/`--port` are accepted
  * for flag compatibility and ignored (documented, not silent: they are
  * echoed back in the summary).
  *
  * Usage: `sbt "runMain graft.mr.MrSubmit -i <dir> -o <dir> -m <exec> -r <exec> --nmappers 2 --nreducers 2"`
  */
object MrSubmit {

  final case class Args(
      host: String = "localhost",
      port: Int = 6000,
      input: String = "tests/testdata/input",
      output: String = "output",
      mapper: String = "tests/testdata/exec/wc_map.sh",
      reducer: String = "tests/testdata/exec/wc_reduce.sh",
      numMappers: Int = 2,
      numReducers: Int = 2,
      shutdown: Boolean = false)

  /** submit.py's option surface, hand-parsed (no CLI library in the
    * dependency budget). Unknown flags fail loudly like click does. */
  def parse(argv: Seq[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], a: Args): Args = rest match {
      case Nil => a
      case ("--host" | "-h") :: v :: t => go(t, a.copy(host = v))
      case ("--port" | "-p") :: v :: t => go(t, a.copy(port = v.toInt))
      case ("--input" | "-i") :: v :: t => go(t, a.copy(input = v))
      case ("--output" | "-o") :: v :: t => go(t, a.copy(output = v))
      case ("--mapper" | "-m") :: v :: t => go(t, a.copy(mapper = v))
      case ("--reducer" | "-r") :: v :: t => go(t, a.copy(reducer = v))
      case "--nmappers" :: v :: t => go(t, a.copy(numMappers = v.toInt))
      case "--nreducers" :: v :: t => go(t, a.copy(numReducers = v.toInt))
      case ("--shutdown" | "-s") :: t => go(t, a.copy(shutdown = true))
      case other :: _ => throw new IllegalArgumentException(s"unknown option: $other")
    }
    go(argv.toList, Args())
  }

  /** Submit (or shut down) against an existing session; returns the part
    * files so tests can golden-check the output. Printing mirrors
    * submit.py's summary block. */
  def run(spark: SparkSession, a: Args): Seq[String] = {
    val engine = new MapReduceEngine(spark)
    if (a.shutdown) {
      engine.shutdown()
      println(s"Shut down Manager ${a.host}:${a.port}")
      Seq.empty
    } else {
      val (_, parts) = engine.submit(JobSpec(a.input, a.output,
        Exec(Seq(a.mapper)), Exec(Seq(a.reducer)), a.numMappers, a.numReducers))
      println(s"Submitted job to Manager ${a.host}:${a.port}")
      println(s"input directory      ${a.input}")
      println(s"output directory     ${a.output}")
      println(s"mapper executable    ${a.mapper}")
      println(s"reducer executable   ${a.reducer}")
      println(s"num mappers          ${a.numMappers}")
      println(s"num reducers         ${a.numReducers}")
      parts
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus, a.input)
    try run(spark, a) finally spark.stop()
  }
}
