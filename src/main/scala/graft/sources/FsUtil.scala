package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileUtil, Path}

import org.apache.spark.sql.SparkSession

/** Storage utilities: the reference's listing
  * (dags/scritps/transform.py:12-25) lists blobs under a prefix, sorts
  * by update time and takes the newest — the argmax over modification
  * time; and the scratch directories of steps that write files and
  * read them back. */
object FsUtil {

  private val deleteAtExit = ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook =
    sys.addShutdownHook(deleteAtExit.forEach(d => FileUtil.fullyDelete(new java.io.File(d))))

  /** `<java.io.tmpdir>/<name>`, for a program step that writes files and
    * reads them back: registered for deletion, with its contents, when
    * the JVM exits, so runs leave no directories behind. Repeated calls
    * with one name return the same path. */
  def scratchDir(name: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/$name"
    exitHook
    deleteAtExit.add(dir)
    dir
  }

  /** Whether `dir` is deleted when the JVM exits. */
  def deletedAtExit(dir: String): Boolean = deleteAtExit.contains(dir)

  /** Newest file under `dir` whose name starts with `prefix`; None if
    * the directory is empty/absent. */
  def latestFile(spark: SparkSession, dir: String,
      prefix: String = ""): Option[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
      .sortBy(-_.getModificationTime)
      .headOption
      .map(_.getPath.toString)
  }
}
