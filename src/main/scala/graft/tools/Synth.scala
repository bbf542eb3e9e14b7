package graft.tools

/** Dev main: build the ScaleCurve x-N synthetic corpus WITHOUT running
  * the timing families — the x10 oracle sweeps want the corpus alone.
  * Usage: runMain graft.tools.Synth [copies]  →  target/scale/x<copies>
  */
object Synth {
  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val spark = DevSession("graft-synth")
    ScaleCurve.synthesize(spark, "/root/testdata/sf0.1",
      s"target/scale/x$copies", copies)
    spark.stop()
  }
}
