package graft

import java.util.{Collections, Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}

/** `spark.plugins` entry of every graft session (see [[GraftSession]]):
  * when the context starts, drops the MapReduce and YARN defaults from
  * its Hadoop conf. It is meant for graft's local sessions; a YARN
  * deployment should leave it out, since its client reads the
  * `yarn-default.xml` keys.
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
  }
}
