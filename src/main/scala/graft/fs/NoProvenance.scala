package graft.fs

import java.lang.reflect.Field
import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.conf.Configuration

/** A Hadoop `Configuration` that keeps no per-key provenance.
  *
  * Hadoop records, for every key it loads, the resources it came from
  * (`getPropertySources`), and `Configuration.write` gzips each key's
  * source array separately. Spark serializes the session's Hadoop conf
  * for every `SerializableConfiguration`: parquet scans, write jobs,
  * state-store RDDs, and each copy of a `StreamingSymmetricHashJoinExec`,
  * which broadcasts one in its constructor (a stream trigger copies the
  * join node several times). For the ~1,100 default keys one write took
  * about 8.5 ms on a 4-core host; without provenance each key's source is
  * the one-byte "none" marker, and the write took 0.5-1.6 ms.
  *
  * What this gives up: `getPropertySources` answers `null` for the keys
  * of the conf it is installed in (in Spark only the debug helper
  * `SparkHadoopUtil.propertySources` reads it). No key or value changes.
  * Copies of the conf start without provenance but hold a stock map, so
  * keys set on a copy keep theirs.
  *
  * Clearing the map once does not hold: registering a default resource
  * (`SharedState` adds `hdfs-default.xml`, `JobConf` adds
  * `mapred-default.xml`) reloads every live conf and refills it. So the
  * map itself is replaced by one whose `put` keeps nothing; Hadoop 3.4
  * writes it only through `put` and the copy constructor.
  */
object NoProvenance {

  /** The provenance map that drops every entry put into it. */
  private[fs] final class Discarding extends ConcurrentHashMap[String, Array[String]] {
    override def put(key: String, value: Array[String]): Array[String] = null
  }

  /** Hadoop's `private volatile Map<String, String[]> updatingResource`;
    * `None` on a Hadoop whose field is missing or of another type. */
  private val field: Option[Field] =
    Try(classOf[Configuration].getDeclaredField("updatingResource")).toOption
      .filter(_.getType == classOf[java.util.Map[_, _]])
      .flatMap(f => Try { f.setAccessible(true); f }.toOption)

  /** Makes `conf` keep no provenance from now on. Idempotent; leaves
    * `conf` untouched where the field is not the expected one. */
  def install(conf: Configuration): Unit = field.foreach { f =>
    conf.synchronized {
      if (!f.get(conf).isInstanceOf[Discarding]) f.set(conf, new Discarding)
    }
  }

  /** The provenance map `conf` holds now, if the field is the expected one. */
  private[graft] def map(conf: Configuration): Option[AnyRef] = field.map(_.get(conf))
}
