package graft.ml

import java.io.{BufferedReader, FileNotFoundException, IOException, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ml.Model
import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.util.{MLReader, MLWriter}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Persistence of the two model classes in the layout Spark's own writers
  * give them, so `Pipeline.load` dispatches to [[Reader]] by class name and
  * `spark.read.text` / `spark.read.parquet` read what [[Writer]] wrote:
  *   - `metadata/`: one text file of one JSON line in the shape of Spark's
  *     DefaultParamsWriter (class, timestamp, sparkVersion, uid, paramMap,
  *     defaultParamMap);
  *   - `model/`: one snappy parquet file of one row, a single `model_json`
  *     string column holding [[ModelJson]]: the reference's 1-row parquet
  *     frame of the model string (reference `sparkdl/xgboost/model.py:95-233`,
  *     SURVEY §3.4 / F8).
  *
  * Both files are written and read on the driver through the Hadoop
  * `FileSystem` of the session's Hadoop conf, the conf `MLWriter`'s
  * overwrite check uses. A save or load starts no Spark job: one string
  * has no data-parallel work, and a DataFrame write or read of it costs
  * jobs (five per round trip), each with its own listing, planning and
  * commit protocol. Each file is written under a `.`-prefixed name in its
  * directory and renamed into place, so a save that dies midway exposes no
  * truncated file. The reader takes the one file of each directory whose
  * name starts with neither `_` nor `.`, the names Spark's readers skip
  * too, so it also loads the `part-00000-<uuid>-c000.*` files Spark's
  * DataFrame writers leave.
  */
object GraftMLIO {
  private val ModelColumn = "model_json"
  private val ModelSchema = MessageTypeParser.parseMessageType(
    s"message spark_schema { optional binary $ModelColumn (STRING); }")

  /** Saves `instance`'s params and `booster` under the instance's class name. */
  private[ml] final class Writer(instance: Params, booster: BoosterModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val conf = sparkSession.sessionState.newHadoopConf()
      val fs = new Path(path).getFileSystem(conf)
      writeThenRename(fs, new Path(path, "metadata/part-00000")) { tmp =>
        val out = fs.create(tmp)
        try out.write((metadataJson(instance, sparkSession.version) + "\n").getBytes(UTF_8))
        finally out.close()
      }
      writeThenRename(fs, new Path(path, "model/part-00000.snappy.parquet")) { tmp =>
        val out = ExampleParquetWriter.builder(tmp).withConf(conf).withType(ModelSchema)
          .withCompressionCodec(CompressionCodecName.SNAPPY).build()
        try out.write(new SimpleGroupFactory(ModelSchema).newGroup()
          .append(ModelColumn, ModelJson.toJson(booster)))
        finally out.close()
      }
    }
  }

  /** Loads a model saved as `className`: reads the metadata, builds the
    * model with its uid through `make` and sets the saved params on it. */
  private[ml] final class Reader[M <: Model[M]](className: String,
      make: (String, BoosterModel) => M) extends MLReader[M] {
    override def load(path: String): M = {
      val conf = sparkSession.sessionState.newHadoopConf()
      val fs = new Path(path).getFileSystem(conf)
      val meta = JsonMethods.parse(firstLine(fs, dataFile(fs, new Path(path, "metadata"))))
        .asInstanceOf[JObject].obj.toMap
      val found = meta("class").asInstanceOf[JString].s
      require(found == className, s"Expected class name $className but found class name $found")
      val model = make(meta("uid").asInstanceOf[JString].s,
        ModelJson.fromJson(firstModelJson(conf, dataFile(fs, new Path(path, "model")))))
      meta("paramMap").asInstanceOf[JObject].obj.foreach { case (name, jv) =>
        if (model.hasParam(name)) {
          val p = model.getParam(name).asInstanceOf[Param[Any]]
          model.set(p, p.jsonDecode(JsonMethods.compact(JsonMethods.render(jv))))
        }
      }
      model
    }
  }

  private def metadataJson(instance: Params, sparkVersion: String): String = {
    // Param.jsonEncode handles the NaN default of `missing` as "NaN"
    val paramMap = JObject(instance.extractParamMap().toSeq
      .map(p => p.param.name -> JsonMethods.parse(
        p.param.asInstanceOf[Param[Any]].jsonEncode(p.value))).toList)
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "class" -> JString(instance.getClass.getName),
      "timestamp" -> JInt(BigInt(System.currentTimeMillis())),
      "sparkVersion" -> JString(sparkVersion),
      "uid" -> JString(instance.uid),
      "paramMap" -> paramMap,
      "defaultParamMap" -> JObject(Nil)))))
  }

  /** Writes `dst` through `write` under a `.`-prefixed name, then renames it
    * into place. */
  private def writeThenRename(fs: FileSystem, dst: Path)(write: Path => Unit): Unit = {
    val tmp = new Path(dst.getParent, "." + dst.getName)
    write(tmp)
    if (!fs.rename(tmp, dst)) throw new IOException(s"could not rename $tmp to $dst")
  }

  /** The directory's data file: the first by name that is neither a `_`
    * marker nor a `.` hidden file (checksums, in-progress writes). */
  private def dataFile(fs: FileSystem, dir: Path): Path =
    fs.listStatus(dir).iterator.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .minByOption(_.getName)
      .getOrElse(throw new FileNotFoundException(s"no data file in $dir"))

  private def firstLine(fs: FileSystem, file: Path): String = {
    val in = new BufferedReader(new InputStreamReader(fs.open(file), UTF_8))
    val line = try in.readLine() finally in.close()
    if (line == null) throw new IOException(s"$file is empty")
    line
  }

  private def firstModelJson(conf: Configuration, file: Path): String = {
    val in = ParquetReader.builder(new GroupReadSupport, file).withConf(conf).build()
    val row = try in.read() finally in.close()
    if (row == null) throw new IOException(s"$file holds no row")
    row.getString(ModelColumn, 0)
  }
}
