package perfbench

import graft.turtle.{Turtle, TurtleWriter}

/** The single-thread Turtle kernel (`graft.turtle`) on a workload's own
  * documents: throughput of `Turtle.parseToTriples` and `TurtleWriter.write`,
  * and the round-trip check.
  */
object Kernel {

  private def utf8(s: String): Long = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  /** Parse → write → parse keeps the triple count, and the writer's output
    * is a fixpoint of write ∘ parse. Without blank nodes the two triple
    * sets must also be equal.
    */
  def roundTrips(doc: String, prefixes: Map[String, String]): Boolean =
    Turtle.parseToTriples(doc).toOption.exists { t1 =>
      val text = TurtleWriter.write(t1, prefixes)
      Turtle.parseToTriples(text).toOption.exists { t2 =>
        val noBlanks = !t1.exists(t => t.render.contains("_:"))
        t2.size == t1.size && TurtleWriter.write(t2, prefixes) == text &&
          (!noBlanks || t1.map(_.render).toSet == t2.map(_.render).toSet)
      }
    }

  /** (parse MB/s, write MB/s), each timed over about `seconds` of passes
    * after one untimed pass.
    */
  def throughput(docs: collection.Seq[String], prefixes: Map[String, String], seconds: Double): (Double, Double) = {
    val parsed = docs.map(d => Turtle.parseToTriples(d).toOption.get)
    val inBytes = docs.map(utf8).sum
    val outBytes = parsed.map(t => utf8(TurtleWriter.write(t, prefixes))).sum
    def rate(bytes: Long)(pass: => Unit): Double = {
      pass
      val t0 = System.nanoTime()
      var n = 0
      while (n == 0 || System.nanoTime() - t0 < seconds * 1e9) { pass; n += 1 }
      bytes * n / 1048576.0 / ((System.nanoTime() - t0) / 1e9)
    }
    (rate(inBytes)(docs.foreach(d => Turtle.parseToTriples(d))),
      rate(outBytes)(parsed.foreach(t => TurtleWriter.write(t, prefixes))))
  }
}
