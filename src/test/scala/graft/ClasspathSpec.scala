package graft

import java.net.URI

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}

/** graft's JVMs run on the Spark jars it uses (`build.sbt`'s `unusedJars`).
  * Checked by what the class loader can load, not by `java.class.path`,
  * which sbt may pass to a forked JVM indirectly.
  */
class ClasspathSpec extends SparkSpec {
  private val loader = getClass.getClassLoader

  private def loads(cls: String): Boolean = Try(Class.forName(cls, false, loader)).isSuccess

  /** One class of each left-out family. */
  private val leftOut = Seq(
    "org.apache.spark.deploy.k8s.Config",
    "io.fabric8.kubernetes.client.KubernetesClient",
    "io.vertx.core.Vertx",
    "org.apache.spark.deploy.yarn.Client",
    "org.apache.curator.framework.CuratorFramework",
    "org.apache.zookeeper.ZooKeeper",
    "org.apache.spark.sql.connect.service.SparkConnectService",
    "io.netty.handler.codec.http.HttpObjectDecoder",
    "io.netty.handler.codec.quic.QuicChannel",
    "io.netty.internal.tcnative.SSL",
    "io.netty.channel.uring.IoUring",
    "org.apache.spark.sql.hive.HiveSessionStateBuilder",
    "org.apache.spark.sql.hive.thriftserver.HiveThriftServer2",
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem",
    "org.apache.hadoop.hive.conf.HiveConf",
    "org.apache.hadoop.hive.metastore.HiveMetaStoreClient",
    "org.datanucleus.NucleusContext",
    "org.apache.derby.iapi.jdbc.Driver42",
    "javax.jdo.JDOHelper",
    "com.zaxxer.hikari.HikariDataSource",
    "org.apache.thrift.TBase",
    "org.apache.spark.ml.Pipeline",
    "org.apache.spark.ml.linalg.Vectors",
    "org.apache.spark.graphx.Graph",
    "breeze.linalg.DenseVector",
    "spire.math.Rational",
    "cats.kernel.Monoid",
    "dev.ludovic.netlib.blas.BLAS",
    "org.apache.spark.streaming.StreamingContext",
    "org.apache.spark.repl.Main",
    "org.apache.spark.sql.pipelines.graph.DataflowGraph",
    "org.glassfish.jersey.server.ResourceConfig",
    "org.glassfish.hk2.api.ServiceLocator",
    "jakarta.ws.rs.core.Response",
    "org.glassfish.jaxb.runtime.v2.ContextFactory",
  )

  test("no class of a left-out jar family loads, Hive's ProxyLocalFileSystem included") {
    assert(leftOut.filter(loads) === Nil)
  }

  test("a graft session's file: file system is Hadoop's LocalFileSystem") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[LocalFileSystem])
  }

  test("one scala-library is on the class path") {
    assert(loader.getResources("scala/Predef.class").asScala.size === 1)
  }

  test("the Scala compiler still loads, because perfbench builds its harness with it") {
    assert(loads("scala.tools.nsc.Main"))
    assert(loads("scala.reflect.runtime.JavaUniverse"))
  }
}
