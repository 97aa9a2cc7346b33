package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-to-column processing pipeline: the Spark-native re-expression of the
  * reference's `Processor` / `ProcessingChain`
  * (dabstract/dataprocessor/processing_chain.py:14-194).
  *
  * A reference processor is `(data, **info) -> (data, info_out)` with an
  * info dict threaded through the chain. Here both legs are Catalyst
  * `Column`s: `data` is the payload, `info` a
  * `struct<fs:int, time_step:double, output_shape:array<int>>` sibling.
  * Because each step returns column *expressions*, an entire chain folds
  * into one `select` — one codegen stage, zero extra passes over the data.
  *
  * Stateful processors (`fit`, processing_chain.py:122-172) return a new,
  * fitted Processor whose parameters are baked into the expression as
  * literals (agg → collect → literal ≡ Spark's partial+final agg followed
  * by a broadcast).
  */
trait Processor extends Serializable {
  def name: String

  /** Apply to (data, info) columns, returning transformed (data, info). */
  def apply(data: Column, info: Column): (Column, Column)

  /** Inverse transform, when the op is invertible (reference
    * `inv_process`, processing_chain.py:113-120).
    */
  def invert(data: Column, info: Column): (Column, Column) =
    throw new UnsupportedOperationException(s"$name is not invertible")

  def isInvertible: Boolean = false

  /** Whether this processor has trainable state (reference `fit`). */
  def needsFit: Boolean = false

  /** Serializable config (registry params) for chain persistence; fitted
    * state included where applicable.
    */
  def params: Map[String, String] = Map.empty

  /** Array nesting depth of this processor's output (0 = scalar): lets
    * the chain maintain info.output_shape (reference appends output_shape
    * after every process call, processing_chain.py:106-107).
    */
  def outputDepth: Int = 1

  /** Fit on a column of `df`, returning a fitted processor. Default:
    * stateless, returns this.
    */
  def fit(df: DataFrame, dataCol: String): Processor = this
}

object Processor {
  /** Fresh info struct for a raw signal column (reference
    * helpers.py:346-349: fs, time_step, output_shape).
    */
  def initInfo(fs: Int): Column = struct(
    lit(fs).as("fs"),
    (lit(1.0) / fs).as("time_step"),
    lit(null).cast("array<int>").as("output_shape"),
    lit(null).cast("int").as("nfft"))

  def emptyInfo: Column = struct(
    lit(null).cast("int").as("fs"),
    lit(null).cast("double").as("time_step"),
    lit(null).cast("array<int>").as("output_shape"),
    lit(null).cast("int").as("nfft"))

  /** Info with selected fields replaced. `withField` references the
    * previous info once, so a k-step chain's info expression grows
    * linearly in k, not 4^k. A null info stays null.
    */
  def withInfo(info: Column, fs: Option[Column] = None,
      timeStep: Option[Column] = None, outputShape: Option[Column] = None,
      nfft: Option[Column] = None): Column =
    Seq("fs" -> fs, "time_step" -> timeStep, "output_shape" -> outputShape,
        "nfft" -> nfft).foldLeft(info) {
      case (i, (field, Some(v))) => i.withField(field, v)
      case (i, _) => i
    }
}

/** Ordered processor composition (reference `ProcessingChain`,
  * processing_chain.py:38-194). Folds (data, info) through each step;
  * appends `output_shape` like the reference does after each process call
  * (processing_chain.py:106-107).
  */
final case class Chain(steps: Seq[Processor]) extends Processor {
  def name = "chain"

  def apply(data: Column, info: Column): (Column, Column) =
    steps.foldLeft((data, info)) { case ((d, i), p) =>
      val (d2, i2) = p(d, i)
      // thread output_shape after every step (processing_chain.py:106-107);
      // zero frames have no inner length (null), not an ANSI index error
      val shape = p.outputDepth match {
        case 1 => Some(array(size(d2)))
        case 2 => Some(array(size(d2), size(try_element_at(d2, lit(1)))))
        case _ => None
      }
      (d2, shape.fold(i2)(sh => Processor.withInfo(i2, outputShape = Some(sh))))
    }

  override def isInvertible: Boolean = steps.forall(_.isInvertible)

  override def invert(data: Column, info: Column): (Column, Column) =
    steps.reverse.foldLeft((data, info)) { case ((d, i), p) => p.invert(d, i) }

  override def fit(df: DataFrame, dataCol: String): Chain =
    fit(df, dataCol, Processor.emptyInfo)

  /** Chain-fit with the reference's causal recursion
    * (processing_chain.py:138-172): each trainable stage is fitted on the
    * output of the already-fitted prefix — which forces one materialization
    * per trainable stage (inherent to the semantics, not the engine). The
    * prefix runs on `info`, a column of `df`, so a stage that reads the
    * sample rate (Framing) sees the same info as when the chain is applied.
    */
  def fit(df: DataFrame, dataCol: String, info: Column): Chain = {
    val fitted = Seq.newBuilder[Processor]
    var prefix: Seq[Processor] = Nil
    for (p <- steps) {
      val fp =
        if (p.needsFit) {
          val (d, _) = Chain(prefix)(col(dataCol), info)
          p.fit(df.select(d.as(dataCol)), dataCol)
        } else p
      fitted += fp
      prefix = prefix :+ fp
    }
    Chain(fitted.result())
  }

  def add(p: Processor): Chain = Chain(steps :+ p)

  /** Persist the chain as JSON config (reference chain save/load,
    * processing_chain.py:174-189 — pickle there, a registry-name + params
    * document here, so it round-trips across engine versions).
    */
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    steps.map { p =>
      val ps = (p.params + ("name" -> p.name))
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")
      ps
    }.mkString("[", ", ", "]")
  }
}

object Chain {
  def apply(ps: Processor*)(implicit d: DummyImplicit): Chain = Chain(ps.toSeq)

  /** Registry: name → factory from params (reference string-name lookup,
    * processing_chain.py:69-80).
    */
  val registry: Map[String, Map[String, String] => Processor] = Map(
    "Scaler"     -> (p => Scaler(p.getOrElse("type", "uint16"),
                       p.getOrElse("depth", "1").toInt)),
    "Logarithm"  -> (p => Logarithm(p.getOrElse("type", "base10"),
                       p.getOrElse("depth", "1").toInt)),
    "ExpandDims" -> (p => ExpandDims(p.getOrElse("depth", "1").toInt)),
    "Dummy"      -> (_ => DummyProcessor()),
    "Framing"    -> (p => Framing(p("windowsize").toDouble, p("stepsize").toDouble,
                       p.getOrElse("window_func", "hamming"))),
    "Windowing"  -> (p => WindowingProcessor(p.getOrElse("window_func", "hamming"),
                       p.getOrElse("depth", "1").toInt)),
    "FFT"        -> (p => FFTProcessor(p.getOrElse("format", "magnitude"),
                       p.getOrElse("nfft", "nextpow2"),
                       p.getOrElse("dc_reset", "false").toBoolean,
                       p.getOrElse("depth", "2").toInt)),
    "Filterbank" -> (p => Filterbank(p("n_bands").toInt, p.getOrElse("scale", "mel"),
                       p.getOrElse("fs", "16000").toInt,
                       p.getOrElse("nfft", "512").toInt,
                       p.getOrElse("fmin", "0").toDouble,
                       p.get("fmax").map(_.toDouble).getOrElse(Double.PositiveInfinity),
                       p.get("norm"),
                       p.getOrElse("depth", "2").toInt)),
    "Normalizer" -> (p => Normalizer(p.getOrElse("type", "standard"),
                       featureRange = p.get("feature_range").map { s =>
                         val Array(a, b) = s.split(","); (a.toDouble, b.toDouble)
                       }.getOrElse((0.0, 1.0)),
                       stats = p.get("stats").map { s =>
                         val Array(a, b) = s.split(","); (a.toDouble, b.toDouble)
                       },
                       depth = p.getOrElse("depth", "1").toInt)),
    "Aggregation"-> (p => AggregationProcessor(
                       p.getOrElse("methods", "mean,std").split(",").toSeq)),
    "FIRFilter"  -> (p => FIRFilter(p("type"), p("f").toDouble,
                       p.getOrElse("taps", "101").toInt,
                       p.getOrElse("fs", "16000").toDouble,
                       p.getOrElse("window", "hamming"),
                       p.getOrElse("f2", "NaN").toDouble)),
    "Resample"   -> (p => Resample(p("target_fs").toInt,
                       p.getOrElse("src_fs", "16000").toInt)))

  /** Resolve a processor by registry name, or — when the name is a dotted
    * class path (the reference's `!class [pkg.Cls]` constructor,
    * utils.py:129-135 → safe_import_module) — by JVM reflection: the class
    * must implement [[Processor]] and expose either a `Map[String,String]`
    * constructor or a no-arg constructor.
    */
  def makeProcessor(name: String, params: Map[String, String]): Processor =
    registry.get(name) match {
      case Some(factory) => factory(params)
      case None if name.contains(".") =>
        val cls = Class.forName(name)
        require(classOf[Processor].isAssignableFrom(cls),
          s"$name does not implement graft.functions.Processor")
        try cls.getConstructor(classOf[Map[_, _]])
          .newInstance(params).asInstanceOf[Processor]
        catch {
          case _: NoSuchMethodException =>
            cls.getDeclaredConstructor().newInstance().asInstanceOf[Processor]
        }
      case None => throw new IllegalArgumentException(s"unknown processor '$name'")
    }

  /** Rebuild a chain from [[Chain.toJson]] output via the registry (or a
    * dotted class path, [[makeProcessor]]).
    */
  def fromJson(json: String): Chain = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val steps = JsonMethods.parse(json) match {
      case JArray(xs) => xs.map { step =>
        val m = step.extract[Map[String, String]]
        makeProcessor(m("name"), m - "name")
      }
      case _ => throw new IllegalArgumentException("chain json must be an array")
    }
    Chain(steps)
  }
}
