package perfbench

/** Seeded foreign Turtle documents for the `delta` workload.
  *
  * Each document describes one subject of its own, so its triples never
  * collide with another document's, and the generator knows exactly how
  * many triples a valid document yields. The documents use `@base`,
  * prefixed names, a collection, a blank-node property list and string
  * escapes. A malformed document is a valid one with one planted syntax
  * error; the parser must reject it whole.
  */
object DeltaGen {
  val Ns = "http://bench.example/ns#"
  val StatusPred: String = Ns + "status"
  private val Statuses = Array("open", "closed", "draft")
  private val Tags = Array("ex:alpha", "ex:beta", "\"gamma\"", "\"delta \\u00e9\"", "42", "ex:omega")

  /** `triples`: what a valid document yields; `subjTriples`: those whose
    * subject is the document's own IRI (all but list cells and author
    * properties).
    */
  final case class Doc(id: Long, url: String, subj: String, text: String, triples: Int,
      subjTriples: Int, status: String, malformed: Boolean)

  def base(seed: Long): String = s"http://bench.example/s$seed/"

  /** A generator for stream `k` of `seed`. `java.util.Random` seeded with
    * consecutive values starts out correlated, so the pair is mixed first
    * (SplitMix64 finalizer).
    */
  def rng(seed: Long, k: Long): scala.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + k
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  def doc(seed: Long, id: Long, malformed: Boolean): Doc = {
    val rnd = rng(seed, id)
    val listLen = 1 + rnd.nextInt(4)
    val cites = rnd.nextInt(3)
    val status = Statuses(rnd.nextInt(Statuses.length))
    val tags = Seq.fill(listLen)(Tags(rnd.nextInt(Tags.length))).mkString(" ")
    val citeObjs = (1 to cites).map(j => s"<doc/${id - j}>").mkString(" , ")
    val sb = new StringBuilder
    sb ++= s"@base <${base(seed)}> .\n"
    sb ++= s"@prefix ex: <$Ns> .\n"
    sb ++= "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
    sb ++= s"<doc/$id> a ex:Doc ;\n"
    sb ++= s"""  ex:title "Doc $id \\"quoted\\"\\tand\\\\slashed \\u00e9t\\u00e9" ;\n"""
    sb ++= s"""  ex:status "$status" ;\n"""
    sb ++= s"""  ex:rank "${rnd.nextInt(1000)}"^^xsd:integer ;\n"""
    sb ++= s"  ex:tags ( $tags ) ;\n"
    sb ++= s"""  ex:author [ ex:name "Author ${rnd.nextInt(500)}"@en ; ex:age ${20 + rnd.nextInt(60)} ]"""
    if (cites > 0) sb ++= s" ;\n  ex:cites $citeObjs"
    sb ++= " .\n"
    val valid = sb.toString
    // type, title, status, rank; the tags link plus three triples per
    // list cell (rdf:first, rdf:rest, rdf:type rdf:List); the author link
    // plus its two properties; one per cited document
    val triples = 4 + 1 + 3 * listLen + 3 + cites
    val text =
      if (!malformed) valid
      else rnd.nextInt(3) match {
        case 0 => valid.replace("ex:status", "zz:status") // undeclared prefix
        case 1 => valid.replace("\"Doc ", "\"Doc \\q")   // bad string escape
        case _ => valid.stripSuffix(" .\n") + "\n"       // missing final dot
      }
    Doc(id, s"${base(seed)}doc/$id", s"<${base(seed)}doc/$id>", text,
      if (malformed) 0 else triples, if (malformed) 0 else 6 + cites, status, malformed)
  }
}
