package graft.sources

import graft.score.IsolationForest.{ITree, Leaf, Model, Split}
import graft.score.LinearAE
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Artifact persistence (reference SURVEY.md §2.1 S6/S7): golden
  * threshold scalars as plain-text float files
  * (`dataset/thresholds/<name>.txt`, `app/AE_model.py:233-246`) and fitted
  * model state. Doubles round-trip via `Double.toString`/`parseDouble`
  * (exact for all finite values), so save→load→score is bitwise
  * reproducible. Model files are driver-side artifacts (a few KB) —
  * they ride the broadcast path at scoring time, not the data path.
  */
object Persist {

  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  // --- thresholds (S7) ------------------------------------------------ //

  def saveThreshold(path: String, value: Double): Unit =
    write(path, value.toString)

  def loadThreshold(path: String): Double =
    Files.readString(Paths.get(path)).trim.toDouble

  // --- isolation forest ----------------------------------------------- //

  private def encodeTree(t: ITree, sb: StringBuilder): Unit = t match {
    case Leaf(n) => sb.append("L ").append(n).append(' ')
    case Split(f, v, l, r) =>
      sb.append("S ").append(f).append(' ').append(v).append(' ')
      encodeTree(l, sb)
      encodeTree(r, sb)
  }

  private def decodeTree(tok: Iterator[String]): ITree = tok.next() match {
    case "L" => Leaf(tok.next().toInt)
    case "S" =>
      val f = tok.next().toInt
      val v = tok.next().toDouble
      Split(f, v, decodeTree(tok), decodeTree(tok))
  }

  def saveIsolationForest(path: String, m: Model): Unit = {
    val lines = m.sampleSize.toString +: m.trees.map { t =>
      val sb = new StringBuilder
      encodeTree(t, sb)
      sb.result().trim
    }.toSeq
    write(path, lines.mkString("\n"))
  }

  def loadIsolationForest(path: String): Model = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
    val trees = lines.tail.map(l => decodeTree(l.split(' ').iterator)).toArray
    new Model(trees, lines.head.trim.toInt)
  }

  // --- linear AE ------------------------------------------------------- //

  def saveLinearAE(path: String, m: LinearAE.Model): Unit = {
    val lines = m.mean.mkString(",") +: m.components.map(_.mkString(",")).toSeq
    write(path, lines.mkString("\n"))
  }

  def loadLinearAE(path: String): LinearAE.Model = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
    new LinearAE.Model(
      lines.head.split(',').map(_.toDouble),
      lines.tail.map(_.split(',').map(_.toDouble)).toArray)
  }

  // --- MLP AE ---------------------------------------------------------- //

  /** Layout: header `mlp <act> <nLayers>`, then mean / std lines, then
    * per layer its bias line followed by `#bias` weight rows — plain
    * comma-joined doubles, exact round-trip for any stack depth. The
    * fitted-model save of the flagship AE flow (`app/AE_model.py:50-57`, S6).
    */
  def saveMlpAE(path: String, m: graft.score.MlpAE.Model): Unit = {
    val header = s"mlp ${m.act.name} ${m.weights.length}"
    val layers = m.weights.indices.flatMap { l =>
      m.biases(l).mkString(",") +: m.weights(l).map(_.mkString(",")).toSeq
    }
    val lines = header +: (Seq(m.mean, m.std).map(_.mkString(",")) ++ layers)
    write(path, lines.mkString("\n"))
  }

  def loadMlpAE(path: String): graft.score.MlpAE.Model = {
    val raw = Files.readAllLines(Paths.get(path)).asScala.toSeq
    val Array(tag, actName, nStr) = raw.head.trim.split(' ')
    require(tag == "mlp", s"not an MlpAE artifact: ${raw.head}")
    val nLayers = nStr.toInt
    val lines = raw.tail.map(_.split(',').map(_.toDouble))
    val Seq(mean, std) = lines.take(2)
    var at = 2
    val (ws, bs) = (0 until nLayers).map { _ =>
      val bias = lines(at)
      val w = lines.slice(at + 1, at + 1 + bias.length).toArray
      at += 1 + bias.length
      (w, bias)
    }.unzip
    new graft.score.MlpAE.Model(mean, std, ws.toArray, bs.toArray,
      graft.score.MlpAE.actByName(actName))
  }
}
