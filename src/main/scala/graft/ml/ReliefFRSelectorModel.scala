package graft.ml

import java.nio.charset.StandardCharsets

import scala.reflect.ClassTag

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.ml.Model
import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}
import org.apache.spark.ml.param.{Param, ParamMap, Params}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}
import org.json4s.{JArray, JLong, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Model fitted by [[ReliefFRSelector]]: the two rankings (plain
  * RELIEF-F and relevance−redundancy) plus the normalized per-feature
  * relevance weights. `transform` compresses the feature vector to the
  * selected indices (reference FeatureSelectionUtils.scala:38-73
  * semantics — sparse stays sparse, dense stays dense).
  *
  * Weights are stored SPARSELY: only features some (query, neighbor)
  * pair actually touched carry a weight (`weightedFeatures` ascending
  * / `weightedValues`), every absent feature shares `defaultWeight`
  * (the min-max image of zero relevance). At reference-CSV dims the
  * dense [[featureWeights]] view densifies lazily and nothing
  * changes; at kddb dims (reference README.md:19 — "nearly 30M of
  * features") the model, its persistence, and the fit that builds it
  * are all bounded by ACTIVE dims, never nFeat (ReliefSpec pins a
  * 20k×30M fit).
  */
final class ReliefFRSelectorModel private[ml] (
    override val uid: String,
    val stdSelection: Array[Int],
    val redundancySelection: Array[Int],
    val numFeatures: Int,
    val defaultWeight: Double,
    val weightedFeatures: Array[Int],
    val weightedValues: Array[Double])
    extends Model[ReliefFRSelectorModel] with ReliefFRParams with MLWritable {

  /** Normalized weight of one feature — O(log activeDims) lookup. */
  def weightOf(f: Int): Double = {
    val i = java.util.Arrays.binarySearch(weightedFeatures, f)
    if (i >= 0) weightedValues(i) else defaultWeight
  }

  /** Dense weight view — O(numFeatures) driver memory. Right at
    * reference-CSV dims; at kddb-scale dims read
    * [[weightedFeatures]]/[[weightOf]] instead.
    */
  lazy val featureWeights: Array[Double] = {
    val a = Array.fill(numFeatures)(defaultWeight)
    var i = 0
    while (i < weightedFeatures.length) {
      a(weightedFeatures(i)) = weightedValues(i); i += 1
    }
    a
  }

  def setInputCol(v: String): this.type = set(inputCol, v)
  def setOutputCol(v: String): this.type = set(outputCol, v)
  def setRedundancyRemoval(v: Boolean): this.type = set(redundancyRemoval, v)

  private var selectionSize: Int = -1

  /** Restrict the transform to the best `s` of the selected features. */
  def setReducedSubset(s: Int): this.type = {
    require(s > 0 && s <= getSelectedFeatures().length,
      s"subset size must be in [1, ${getSelectedFeatures().length}]")
    selectionSize = s
    this
  }

  def getReducedSubsetParam(): Int =
    if (selectionSize > 0) selectionSize else getSelectedFeatures().length

  def getSelectedFeatures(): Array[Int] = {
    val sel = if ($(redundancyRemoval)) redundancySelection else stdSelection
    if (selectionSize > 0) sel.take(selectionSize) else sel
  }

  override def transform(dataset: Dataset[_]): DataFrame = {
    // codegen'd Catalyst projection (graft.functions.VectorCompress) —
    // the per-row UDF this replaced paid a VectorUDT deserialize →
    // closure → re-serialize round trip on the one operator every
    // downstream pipeline runs per row; [[ReliefFRSelectorModel.compress]]
    // remains as the semantic reference and spec cross-check
    val selection = getSelectedFeatures().sorted // compress requires ascending
    import graft.functions.ColumnBridge
    val compressed = ColumnBridge.column(graft.functions.VectorCompress(
      ColumnBridge.expression(col($(inputCol))), selection))
    dataset.withColumn($(outputCol), compressed)
      .withMetadata($(outputCol), prepOutputField(dataset.schema, selection).metadata)
  }

  /** Output-column ML attribute metadata: the input's per-feature
    * attributes filtered down to the selection (reference
    * ReliefFRSelector.scala:828-840), so downstream stages keep names
    * and slot counts.
    */
  private def prepOutputField(schema: StructType, selection: Array[Int]): StructField = {
    import org.apache.spark.ml.attribute.{Attribute, AttributeGroup, NumericAttribute}
    val orig = AttributeGroup.fromStructField(schema($(inputCol)))
    val attrs: Array[Attribute] = orig.attributes match {
      case Some(as) => selection.filter(_ < as.length).map(as(_))
      case None => Array.fill[Attribute](selection.length)(NumericAttribute.defaultAttr)
    }
    new AttributeGroup($(outputCol), attrs).toStructField()
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+
      prepOutputField(schema, getSelectedFeatures().sorted).copy(name = $(outputCol)))

  override def copy(extra: ParamMap): ReliefFRSelectorModel = {
    val copied = new ReliefFRSelectorModel(uid, stdSelection, redundancySelection,
      numFeatures, defaultWeight, weightedFeatures, weightedValues)
    copyValues(copied, extra).setParent(parent)
  }

  override def write: MLWriter = new ReliefFRSelectorModel.Writer(this)
}

object ReliefFRSelectorModel extends MLReadable[ReliefFRSelectorModel] {

  /** Project a vector onto `selection` (ascending feature indices),
    * re-indexed to 0..selection.length-1.
    */
  def compress(v: Vector, selection: Array[Int]): Vector = v match {
    case d: DenseVector =>
      Vectors.dense(selection.map(d.values(_)))
    case s: SparseVector =>
      val idx = new scala.collection.mutable.ArrayBuffer[Int]
      val vals = new scala.collection.mutable.ArrayBuffer[Double]
      var a = 0; var b = 0
      while (a < selection.length && b < s.indices.length) {
        if (selection(a) == s.indices(b)) {
          idx += a; vals += s.values(b); a += 1; b += 1
        } else if (selection(a) < s.indices(b)) a += 1
        else b += 1
      }
      Vectors.sparse(selection.length, idx.toArray, vals.toArray)
  }

  // persisted sparsely too: the weight payload is bounded by active
  // dims (the 20k×30M-feature spec's model saves as a 26 KB file)
  private[ml] class Writer(instance: ReliefFRSelectorModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      import org.json4s.JsonDSL._
      import GraftPersist.bits
      GraftPersist.save(instance, path, sparkSession,
        ("stdSelection" -> instance.stdSelection.toSeq) ~
          ("redundancySelection" -> instance.redundancySelection.toSeq) ~
          ("numFeatures" -> instance.numFeatures) ~
          ("defaultWeight" -> bits(instance.defaultWeight)) ~
          ("weightedFeatures" -> instance.weightedFeatures.toSeq) ~
          ("weightedValues" -> instance.weightedValues.toSeq.map(bits)))
    }
  }

  private class Reader extends MLReader[ReliefFRSelectorModel] {
    override def load(path: String): ReliefFRSelectorModel = {
      val saved = GraftPersist.load(path, sparkSession, classOf[ReliefFRSelectorModel])
      saved.restore(new ReliefFRSelectorModel(saved.uid,
        saved.ints("stdSelection"), saved.ints("redundancySelection"),
        saved.int("numFeatures"), saved.double("defaultWeight"),
        saved.ints("weightedFeatures"), saved.doubles("weightedValues")))
    }
  }

  override def read: MLReader[ReliefFRSelectorModel] = new Reader
}

/** Hand-rolled persistence (Spark's DefaultParamsWriter/Reader are
  * private[ml]): one JSON file, `<path>/graft_model.json`, holding the
  * instance's class, uid, explicitly-set params (as
  * `Param.jsonEncode` strings) and, for models, the payload fields.
  * Doubles in the payload are stored as their raw IEEE bits, so they
  * round-trip bit for bit. The driver reads and writes the file
  * through the Hadoop FileSystem API, so any Hadoop filesystem works
  * and neither save nor load runs a Spark job.
  *
  * Paths saved in the older parquet layout (a one-row
  * `<path>/graft_metadata` frame of uid and params, plus a one-row
  * `<path>/data` frame for models) still load, read-only.
  */
private[ml] object GraftPersist {
  private val FileName = "graft_model.json"
  private val LegacyMetadata = "graft_metadata"
  private val LegacyData = "data"

  def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** One saved instance: its uid, its set params, and its payload. */
  final class Saved private[GraftPersist] (where: String, val uid: String,
      params: Map[String, String], data: JValue) {

    def int(field: String): Int = Math.toIntExact(long(data \ field, field))
    def double(field: String): Double = java.lang.Double.longBitsToDouble(long(data \ field, field))
    def ints(field: String): Array[Int] = longs(field).map(Math.toIntExact)
    def doubles(field: String): Array[Double] = longs(field).map(java.lang.Double.longBitsToDouble)

    /** Sets the saved params on `instance` (names it lacks are skipped). */
    def restore[T <: Params](instance: T): T = {
      params.foreach { case (name, json) =>
        if (instance.hasParam(name)) {
          val p = instance.getParam(name)
          instance.set(p, p.jsonDecode(json))
        }
      }
      instance
    }

    private def longs(field: String): Array[Long] = data \ field match {
      case JArray(vs) => vs.iterator.map(long(_, field)).toArray
      case v => corrupt(v, field)
    }
    private def long(v: JValue, field: String): Long = v match {
      case JLong(x) => x
      case _ => corrupt(v, field)
    }
    private def corrupt(v: JValue, field: String): Nothing =
      throw new java.io.IOException(s"$where: field $field holds ${compact(render(v))}")
  }

  def save(instance: Params with Identifiable, path: String, spark: SparkSession,
      data: JObject = JObject()): Unit = {
    val params = instance.params.toList.flatMap { p =>
      instance.get(p).map(v => p.name -> JString(p.asInstanceOf[Param[Any]].jsonEncode(v)))
    }
    val json = JObject("class" -> JString(instance.getClass.getName),
      "uid" -> JString(instance.uid), "params" -> JObject(params), "data" -> data)
    val file = new Path(path, FileName)
    val out = file.getFileSystem(hadoopConf(spark)).create(file)
    try out.write(compact(render(json)).getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Reads what [[save]] wrote at `path`, requiring an instance of
    * `cls`; falls back to the older parquet layout.
    */
  def load(path: String, spark: SparkSession, cls: Class[_]): Saved = {
    val file = new Path(path, FileName)
    val fs = file.getFileSystem(hadoopConf(spark))
    if (fs.exists(file)) {
      val in = fs.open(file)
      val json = try parse(in: java.io.InputStream, useBigIntForLong = false) finally in.close()
      val JString(saved) = json \ "class"
      require(saved == cls.getName, s"$file holds a $saved, not a ${cls.getName}")
      val JString(uid) = json \ "uid"
      val JObject(params) = json \ "params"
      new Saved(file.toString, uid, params.map {
        case (k, JString(v)) => k -> v
        case (k, v) => throw new java.io.IOException(s"$file: param $k holds ${compact(render(v))}")
      }.toMap, json \ "data")
    } else if (fs.exists(new Path(path, LegacyMetadata))) {
      loadLegacy(path, spark, fs)
    } else {
      throw new java.io.FileNotFoundException(
        s"no saved graft instance at $path: neither $FileName nor $LegacyMetadata/ is there")
    }
  }

  /** The older layout: one metadata parquet read, plus one data parquet
    * read for models; the payload is re-expressed in the file's encoding.
    */
  private def loadLegacy(path: String, spark: SparkSession, fs: FileSystem): Saved = {
    val meta = spark.read.parquet(new Path(path, LegacyMetadata).toString)
      .select("uid", "params").head()
    def json(v: Any): JValue = v match {
      case d: Double => JLong(bits(d))
      case i: Int => JLong(i)
      case s: scala.collection.Seq[_] => JArray(s.iterator.map(json).toList)
    }
    val dataPath = new Path(path, LegacyData)
    val data = if (!fs.exists(dataPath)) JObject() else {
      val row = spark.read.parquet(dataPath.toString).head()
      JObject(row.schema.fieldNames.toList.zipWithIndex.map { case (f, i) => f -> json(row.get(i)) })
    }
    new Saved(path, meta.getString(0), meta.getMap[String, String](1).toMap, data)
  }

  private def hadoopConf(spark: SparkSession) = spark.sessionState.newHadoopConf()
}

/** Writer/Reader for params-only instances (the estimator). */
private[ml] class GraftParamsWriter(instance: Params with Identifiable) extends MLWriter {
  override protected def saveImpl(path: String): Unit =
    GraftPersist.save(instance, path, sparkSession)
}

private[ml] class GraftParamsReader[T <: Params](ctor: String => T)(implicit tag: ClassTag[T])
    extends MLReader[T] {
  override def load(path: String): T = {
    val saved = GraftPersist.load(path, sparkSession, tag.runtimeClass)
    saved.restore(ctor(saved.uid))
  }
}
