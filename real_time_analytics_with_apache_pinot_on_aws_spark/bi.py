"""BI connectivity (A14): a JDBC/ODBC endpoint analog for the engine.

Reference story: Tableau connects to Pinot through the Pinot JDBC driver
against the broker ALB (README.md:38-41, lib/apache-pinot-solution-stack.ts:
714-728).  The Spark-native equivalent is the HiveServer2-protocol Thrift
endpoint every BI tool already speaks (Tableau/DBeaver/beeline ship Hive
JDBC): we start Spark's Thrift server IN-PROCESS on the engine's session, so
whatever the engine has registered is queryable over the wire.

Visibility rules (standard Spark semantics, documented divergence from the
single-tenant Pinot broker):
- persistent catalog tables and GLOBAL temp views are visible to every JDBC
  session;
- plain temp views are per-session — callers exporting a view to BI should
  use ``expose_global`` (or set ``spark.sql.hive.thriftServer.singleSession``
  at session build to share everything).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession

from .functions import sqlfns

DEFAULT_PORT = 10000


def start_thrift_server(spark: SparkSession, port: int = DEFAULT_PORT, metastore_dir: str | None = None):
    """Start the in-process HiveServer2 Thrift endpoint; returns the server
    handle (``.stop()`` to shut down).

    The port conf must reach HiveConf before server init, hence both the
    runtime conf and the Hadoop conf are set.  ``metastore_dir`` relocates
    the embedded derby metastore (keeps test/workdir clean).
    """
    spark.conf.set("hive.server2.thrift.port", str(port))
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hconf.set("hive.server2.thrift.port", str(port))
    if metastore_dir is not None:
        hconf.set(
            "javax.jdo.option.ConnectionURL",
            f"jdbc:derby:;databaseName={metastore_dir}/metastore_db;create=true",
        )
    # a BI client's SQL reaches Spark without passing through the engine,
    # so no statement registers the Pinot functions it calls: register all
    # of them (a singleSession server shares them with its clients)
    sqlfns.register_all(spark)
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.hive.thriftserver.HiveThriftServer2.startWithContext(
        spark._jsparkSession.sqlContext()
    )


CONNECT_PORT = 15002
# Python client prerequisites (absent in this sandbox — no pip/network):
CONNECT_CLIENT_REQUIREMENT = "pip install 'pyspark[connect]'  # grpcio + protobuf"


def start_connect_server(spark: SparkSession, port: int = CONNECT_PORT) -> None:
    """Start the in-process Spark Connect gRPC endpoint (A14, modern path).

    HiveServer2 Thrift above covers the installed base of JDBC/ODBC BI
    tools (the Pinot-JDBC/Tableau story); Spark Connect is the
    forward-looking second path — DataFrame-API clients (Python/Scala/Go/
    Rust) and the new JDBC drivers speak it natively at ``sc://host:port``.
    The server side ships in the pyspark distribution (spark-connect jar)
    and runs on THIS session's context, so every registered view is
    queryable remotely; the thin client needs grpcio
    (CONNECT_CLIENT_REQUIREMENT), which tests gate on.
    """
    spark.sparkContext._jsc.sc().conf().set("spark.connect.grpc.binding.port", str(port))
    spark._jvm.org.apache.spark.sql.connect.service.SparkConnectService.start(
        spark.sparkContext._jsc.sc()
    )


def stop_connect_server(spark: SparkSession) -> None:
    empty = spark._jvm.scala.Option.empty()
    spark._jvm.org.apache.spark.sql.connect.service.SparkConnectService.stop(empty, empty)


def connect_url(port: int = CONNECT_PORT, host: str = "localhost") -> str:
    return f"sc://{host}:{port}"


def connect_client_available() -> bool:
    """True when the Spark Connect *client* stack (grpcio) is importable."""
    try:
        import grpc  # noqa: F401

        return True
    except ImportError:
        return False


def expose_global(df: DataFrame, name: str) -> str:
    """Publish a DataFrame for BI sessions; returns the wire-visible name."""
    df.createOrReplaceGlobalTempView(name)
    return f"global_temp.{name}"


def jdbc_url(port: int = DEFAULT_PORT, host: str = "localhost") -> str:
    return f"jdbc:hive2://{host}:{port}/"


def jdbc_query(spark: SparkSession, sql: str, port: int = DEFAULT_PORT) -> list[tuple]:
    """Run ``sql`` over the wire as a JDBC client would (hive-jdbc driver in
    the same JVM — a real Thrift round-trip, not a shortcut into the session).
    Test/diagnostic helper; BI tools connect with their own drivers."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(jdbc_url(port), "anonymous", "")
    try:
        st = conn.createStatement()
        rs = st.executeQuery(sql)
        meta = rs.getMetaData()
        ncols = meta.getColumnCount()
        rows: list[tuple] = []
        while rs.next():
            rows.append(tuple(rs.getObject(i + 1) for i in range(ncols)))
        return rows
    finally:
        conn.close()


def wait_for_port(port: int, timeout_s: float = 30.0, host: str = "localhost") -> bool:
    """Poll until the Thrift socket accepts connections."""
    import socket

    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        with socket.socket() as s:
            s.settimeout(1.0)
            try:
                s.connect((host, port))
                return True
            except OSError:
                time.sleep(0.5)
    return False
