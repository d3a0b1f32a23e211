package graft

import java.util.{Collections, Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hdfs.HdfsConfiguration
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.yarn.conf.YarnConfiguration
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}

/** Setting 4 of [[SessionTuning]]: at driver start, drop the per-key
  * source tracking of the context's Hadoop `Configuration`, which every
  * serialized copy of it (file scans, writes, state stores) otherwise
  * gzips key by key. Values are untouched; sources only feed
  * `getPropertySources`. See `SessionTuning` for the measurements.
  */
class HadoopConfTrim extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      HadoopConfTrim.registerDefaults()
      HadoopConfTrim.trim(sc.hadoopConfiguration)
      Collections.emptyMap()
    }
  }

  override def executorPlugin(): ExecutorPlugin = null
}

object HadoopConfTrim {
  // fails at first use, not silently, if a Hadoop upgrade renames it
  private lazy val sources = {
    val f = classOf[Configuration].getDeclaredField("updatingResource")
    f.setAccessible(true)
    f
  }

  /** Initializes the classes whose static blocks add default resources
    * (`JobConf` through `ConfigUtil`; with the `KDiag` tool, the only
    * `addDefaultResource` callers among Spark's jars). A resource name
    * added later would reload every registered conf, and the reload
    * tracks every key's sources again. */
  def registerDefaults(): Unit =
    Seq(classOf[JobConf], classOf[YarnConfiguration], classOf[HdfsConfiguration])
      .foreach(c => Class.forName(c.getName, true, c.getClassLoader))

  /** Loads `conf`'s properties, then forgets which resource set each. */
  def trim(conf: Configuration): Unit = conf.synchronized {
    conf.size()
    sources.get(conf).asInstanceOf[JMap[_, _]].clear()
  }
}
