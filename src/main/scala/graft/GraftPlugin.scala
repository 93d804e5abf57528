package graft

import java.util.{Collections, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}

/** `spark.plugins` entry of every graft session (see [[GraftSession]]):
  * when the context starts, drops the MapReduce and YARN defaults from
  * its Hadoop conf and clears the conf's per-key source records. It is
  * meant for graft's local sessions; a YARN deployment should leave it
  * out, since its client reads the `yarn-default.xml` keys.
  */
class GraftPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      GraftPlugin.trim(sc.hadoopConfiguration)
      Collections.emptyMap()
    }
  }
  override def executorPlugin(): ExecutorPlugin = null
}

/** The first use of `JobConf` adds `mapred-default.xml` and
  * `yarn-default.xml` to every Hadoop conf: over 700 keys that no local
  * graft job reads from the conf. Hadoop re-reads every default
  * resource into every conf whenever a new one is added, so [[trim]]
  * loads the classes that add them first. It then drops a key only if
  * those two files are its only sources: keys from `core-default.xml`
  * or a `*-site.xml`, and keys a program or a `spark.hadoop.*` entry
  * set, stay as they are.
  *
  * [[trim]] then clears the source record Hadoop keeps for each key
  * (`getPropertySources`, e.g. `["core-default.xml"]`).
  * `Configuration.write` writes each key's record through a GZIP stream
  * of its own, a fresh zlib deflater, and `readFields` opens an inflater
  * for it, so every copy of the conf a job ships paid for one stream per
  * key. Every conf Spark copies from this one (`newHadoopConf()`)
  * starts with no records; only the keys set on the copy afterwards
  * (the session's SQL confs) record one. In HadoopConfSpec's session
  * that is 27 of the 390 keys shipped, which serialize to 23,992 bytes
  * instead of 38.7 KB (per-batch times in [[GraftSession]]).
  *
  * Only diagnostics read the records: in the Spark 4.1.2 and
  * hadoop-client-api 3.4.2 jars, the uncalled
  * `SparkHadoopUtil.propertySources` and MapReduce's `JobHistoryUtils`.
  * So in a graft session `getPropertySources(k)` returns null for every
  * key that existed when the context started. Hadoop has no public call
  * that clears them (`clear()` and `reloadConfiguration()` keep them,
  * `set` always records one), so [[clearSources]] clears the private
  * map by reflection; without the field the conf stays correct, only
  * slower to ship.
  */
object GraftPlugin {
  private val TrimmedResources = Set("mapred-default.xml", "yarn-default.xml")

  private val DefaultAdders = Seq(
    "org.apache.hadoop.mapred.JobConf",
    "org.apache.hadoop.yarn.conf.YarnConfiguration",
    "org.apache.hadoop.hdfs.HdfsConfiguration")

  /** Keys of `conf` whose only sources are `mapred-default.xml` and `yarn-default.xml`. */
  private[graft] def defaultOnlyKeys(conf: Configuration): Seq[String] =
    conf.iterator().asScala.map(_.getKey).filter { k =>
      val sources = conf.getPropertySources(k)
      sources != null && sources.nonEmpty && sources.forall(TrimmedResources)
    }.toSeq

  private def trim(conf: Configuration): Unit = {
    DefaultAdders.foreach { name =>
      try Class.forName(name, true, getClass.getClassLoader)
      catch { case _: ClassNotFoundException | _: LinkageError => }
    }
    defaultOnlyKeys(conf).foreach(conf.unset)
    clearSources(conf)
  }

  private def clearSources(conf: Configuration): Unit =
    try {
      val field = classOf[Configuration].getDeclaredField("updatingResource")
      field.setAccessible(true)
      Option(field.get(conf)).foreach(_.asInstanceOf[JMap[_, _]].clear())
    } catch { case _: ReflectiveOperationException | _: RuntimeException => }
}
