package graft.runtime

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Filesystem utilities (SURVEY.md §2B #19): the reference shells out to
  * `hadoop fs` for Mkdir/Test/Put/RMR/Ls/Copy/Move and parses the ls output
  * into `HdfsFile` records (/root/reference/hdfs/hadoop.go:65-207). Spark
  * carries the Hadoop FileSystem API in-process — same capabilities, any
  * scheme (file://, hdfs://, s3a://, gs://), no subprocess, no output
  * parsing.
  */
object FsUtil {

  /** Parity with the reference's parsed `HdfsFile`
    * (/root/reference/hdfs/hadoop.go:135-207).
    */
  case class FsFile(
      permissions: String,
      replication: Int,
      owner: String,
      group: String,
      size: Long,
      modified: Long,
      path: String,
      isDirectory: Boolean)

  private def fs(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `hadoop fs -mkdir -p` */
  def mkdir(s: SparkSession, path: String): Boolean =
    fs(s, path).mkdirs(new Path(path))

  /** `hadoop fs -test -e` */
  def exists(s: SparkSession, path: String): Boolean =
    fs(s, path).exists(new Path(path))

  /** `hadoop fs -test -d` */
  def isDirectory(s: SparkSession, path: String): Boolean = {
    val f = fs(s, path)
    val p = new Path(path)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  /** `hadoop fs -put` (local → any scheme) */
  def put(s: SparkSession, localSrc: String, dst: String): Unit =
    fs(s, dst).copyFromLocalFile(new Path(localSrc), new Path(dst))

  /** `hdfs.PutStream` parity (/root/reference/hdfs/hadoop.go:90-100):
    * stream an arbitrary InputStream (stdin, a socket, a generator) to a
    * file on any scheme without a local temp copy. Returns bytes written;
    * closes neither stream's source, but flushes/closes the destination.
    */
  def putStream(s: SparkSession, in: java.io.InputStream, dst: String): Long = {
    val out = fs(s, dst).create(new Path(dst), true)
    try {
      val buf = new Array[Byte](64 * 1024)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        total += n
        n = in.read(buf)
      }
      total
    } finally out.close()
  }

  /** `hadoop fs -cat` of one file as a stream (any scheme); the caller
    * closes it.
    */
  def open(s: SparkSession, path: String): java.io.InputStream =
    fs(s, path).open(new Path(path))

  /** `hadoop fs -rm -r` */
  def rmr(s: SparkSession, path: String): Boolean =
    fs(s, path).delete(new Path(path), true)

  /** `hadoop fs -mv` */
  def move(s: SparkSession, src: String, dst: String): Boolean =
    fs(s, src).rename(new Path(src), new Path(dst))

  /** `hadoop fs -cp` */
  def copy(s: SparkSession, src: String, dst: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    org.apache.hadoop.fs.FileUtil.copy(
      fs(s, src), new Path(src), fs(s, dst), new Path(dst), false, conf)
  }

  /** `hadoop fs -ls` with typed results. */
  def ls(s: SparkSession, path: String): Seq[FsFile] =
    fs(s, path).listStatus(new Path(path)).toSeq.map { st =>
      FsFile(
        st.getPermission.toString,
        st.getReplication.toInt,
        st.getOwner,
        st.getGroup,
        st.getLen,
        st.getModificationTime,
        st.getPath.toString,
        st.isDirectory)
    }

  /** `hdfs.Cat("output/part-*")` equivalent
    * (/root/reference/hdfs/hadoop.go:115-119): stream the lines of all
    * files matching a glob to a consumer without materializing.
    */
  def cat(s: SparkSession, glob: String)(consume: Iterator[String] => Unit): Unit = {
    import s.implicits._
    consume(s.read.textFile(glob).toLocalIterator().asScala)
  }

  private implicit class JIter[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }
}
