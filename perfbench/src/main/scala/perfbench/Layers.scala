package perfbench

/** The repository's modules as benchmark layers, and how work is assigned
  * to them.
  */
object Layers {
  val Cdc = "graft.cdc"
  val Ops = "graft.ops"
  val Tx = "graft.tx"
  val Streaming = "graft.streaming"
  val Scale = "graft.scale"
  val all: Seq[String] = Seq(Cdc, Ops, Tx, Streaming, Scale)

  /** Sub-packages that report as part of a layer. */
  private val packageToLayer: Map[String, String] = Map(
    "cdc" -> Cdc, "sources" -> Cdc,
    "ops" -> Ops,
    "tx" -> Tx,
    "streaming" -> Streaming,
    "scale" -> Scale, "functions" -> Scale, "plans" -> Scale)

  /** Layer of one stack frame such as
    * `graft.tx.TxReplay$.replay(TxReplay.scala:180)`, or None when the frame
    * is not inside a layer package (Spark, the harness, or top-level
    * `graft.*` objects such as the query registries).
    */
  def ofFrame(frame: String): Option[String] = {
    val f = frame.trim.stripPrefix("at ")
    if (!f.startsWith("graft.")) None
    else {
      val parts = f.split('.')
      // graft.<pkg>.<Class>... : a layer frame needs a package segment
      // before the class segment
      if (parts.length < 3) None else packageToLayer.get(parts(1))
    }
  }

  /** Layer of a Spark call site (the long form: one frame per line, the
    * innermost first): the first frame that belongs to a layer.
    */
  def ofCallSite(callSite: String): Option[String] =
    callSite.split('\n').iterator.map(ofFrame).collectFirst { case Some(l) => l }
}
