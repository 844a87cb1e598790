"""Broker source/sink configuration builders (reference S1-S3 receivers,
K7/K8 topic factories).

Kafka is first-class in Spark (streaming.ingest_stream.kafka_stream).  GCP
Pub/Sub and Azure Service Bus have no built-in Spark source; production
deployments use the public connectors (e.g. the Pub/Sub Lite / Service Bus
Spark connectors) — absent those jars this module still provides the full
OPTION MAPPING from the reference's batch settings, so a deployment with the
connector on the classpath is a one-line `.format(...)` swap, and a container
without it fails with a clear error instead of a Spark class-not-found.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from persistor_spark.config import IngestConfig


class ConnectorUnavailable(RuntimeError):
    pass


class EnvVariableNotDefined(ValueError):
    """Mirrors the reference's env loader errors (log.EnvVariableNotDefined)."""

    def __init__(self, key: str):
        super().__init__(f"environment variable not defined: {key}")
        self.key = key


def pubsub_source_options(cfg: IngestConfig, project: str, subscription: str) -> dict:
    """S1 (receiver.go:31-58): outstanding messages/bytes are raised to at
    least the batch bounds — mapped onto the connector's flow-control knobs."""
    return {
        "projectId": project,
        "subscriptionId": subscription,
        "maxMessagesPerPull": str(cfg.batch.batch_size),
        "maxOutstandingMessages": str(cfg.batch.batch_size),
        "maxOutstandingBytes": str(max(cfg.batch.batch_memory_bytes, 1024)),
        "maxWaitMs": str(cfg.batch.batch_timeout_s * 1000),
    }


def servicebus_source_options(cfg: IngestConfig, namespace: str, topic: str, subscription: str) -> dict:
    """S2 (receiver.go:61-76): batch iterator bounds."""
    return {
        "namespace": namespace,
        "topic": topic,
        "subscription": subscription,
        "maxBatchSize": str(cfg.batch.batch_size),
        "maxWaitTimeMs": str(cfg.batch.batch_timeout_s * 1000),
    }


def pubsub_stream(spark, cfg: IngestConfig, project: str, subscription: str):
    """readStream for Pub/Sub — requires a connector jar on the classpath."""
    opts = pubsub_source_options(cfg, project, subscription)
    try:
        return spark.readStream.format("pubsublite").options(**opts).load()
    except Exception as exc:  # noqa: BLE001
        raise ConnectorUnavailable(
            "Pub/Sub Spark connector not on the classpath; deploy the "
            "connector jar or bridge through Kafka (the reference supports "
            "both brokers interchangeably)"
        ) from exc


def kafka_sink_options(bootstrap: str, topic: str) -> dict:
    """K7 (sender/initialization.go:35-91): publisher batch settings, a
    1 MB producer batch.  The `key` column of the sink DataFrame carries the
    ordering key (R7: broker preserves per-key order per partition)."""
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
        "kafka.batch.size": "1000000",
        "kafka.linger.ms": "5",
        "kafka.max.in.flight.requests.per.connection": "1",  # per-key ordering
        "kafka.enable.idempotence": "true",
    }


def _order_for_publish(records_kafka_ready):
    """Hash-partition by key and sort each partition by (key, publish_seq):
    all of a key's rows land in ONE producer partition IN publish order, so
    the broker receives them in order (in.flight=1 + idempotence keep it on
    the wire — R7, resubmitter_job.go:387-455).  Works for any sink that
    writes rows in partition iteration order (Kafka producer, files)."""
    from pyspark.sql import functions as F

    df = records_kafka_ready
    if "publish_seq" in df.columns:
        df = df.repartition(F.col("key")).sortWithinPartitions("key", "publish_seq")
    return df


def publish_kafka(records_kafka_ready, bootstrap: str, topic: str, checkpoint: str):
    """K8: publish resubmit records (resubmit.resubmit()'s kafka_ready
    projection) — ordering-key rows keep order via the key column + the
    per-partition publish_seq sort."""
    df = _order_for_publish(records_kafka_ready)
    if "publish_seq" in df.columns:
        df = df.drop("publish_seq")  # not part of the Kafka record contract
    return (
        df.write.format("kafka")
        .options(**kafka_sink_options(bootstrap, topic))
        .save()
    )


@dataclass(frozen=True)
class KerberosConfig:
    """The resubmit publisher's Kerberos settings (kerberos.go:27-60)."""

    config_path: str
    keytab_path: str
    realm: str
    service: str
    username: str


# env keys: resubmitter-api/lib/publisher/kafka/env.go:17-38, kafka.go:36-38
_KRB_ENV = {
    "config_path": "KRB_CONFIG_PATH",
    "keytab_path": "KRB_KEY_TAB",
    "realm": "KRB_REALM",
    "service": "KRB_SERVICE_NAME",
    "username": "KRB_USERNAME",
}


def load_kerberos_config_from_env(env=None) -> KerberosConfig:
    """LoadKerberosConfigFromEnv parity (kerberos.go:27-60): every variable
    is required; the first missing one is reported by name."""
    env = os.environ if env is None else env
    vals = {}
    for field_name, key in _KRB_ENV.items():
        v = env.get(key, "")
        if not v:
            raise EnvVariableNotDefined(key)
        vals[field_name] = v
    return KerberosConfig(**vals)


def kafka_security_options(
    use_tls: bool = False,
    skip_verify: bool = False,
    sasl_username: str | None = None,
    sasl_password: str | None = None,
    kerberos: KerberosConfig | None = None,
    disable_compression: bool = False,
) -> dict:
    """TLS / SASL-PLAIN / Kerberos publisher security -> Spark Kafka sink
    options (the reference's ProducerConfig surface, kafka.go:69-150 +
    kerberos.go).  Spark's Kafka integration takes these as `kafka.*`
    producer properties; the JAAS string replaces the Go client's in-process
    authenticator objects."""
    opts: dict = {}
    if kerberos is not None:
        opts["kafka.security.protocol"] = "SASL_SSL" if use_tls else "SASL_PLAINTEXT"
        opts["kafka.sasl.mechanism"] = "GSSAPI"
        opts["kafka.sasl.kerberos.service.name"] = kerberos.service
        opts["kafka.sasl.jaas.config"] = (
            "com.sun.security.auth.module.Krb5LoginModule required "
            "useKeyTab=true storeKey=true "
            f'keyTab="{kerberos.keytab_path}" '
            f'principal="{kerberos.username}@{kerberos.realm}";'
        )
        # krb5.conf location is a JVM property, not a producer property:
        # spark.driver/executor.extraJavaOptions=-Djava.security.krb5.conf=...
        opts["__jvm.java.security.krb5.conf"] = kerberos.config_path
    elif sasl_username is not None:
        opts["kafka.security.protocol"] = "SASL_SSL" if use_tls else "SASL_PLAINTEXT"
        opts["kafka.sasl.mechanism"] = "PLAIN"
        opts["kafka.sasl.jaas.config"] = (
            "org.apache.kafka.common.security.plain.PlainLoginModule required "
            f'username="{sasl_username}" password="{sasl_password or ""}";'
        )
    elif use_tls:
        opts["kafka.security.protocol"] = "SSL"
    if use_tls and skip_verify:
        opts["kafka.ssl.endpoint.identification.algorithm"] = ""
    if disable_compression:
        opts["kafka.compression.type"] = "none"
    return opts


def kafka_publisher_options_from_env(env=None) -> dict:
    """FromEnv parity (kafka.go:48-66 + env.go): assemble the full Spark
    Kafka sink option map from the reference's environment contract."""
    env = os.environ if env is None else env
    brokers = env.get("KAFKA_BROKERS", "")
    if not brokers:
        raise EnvVariableNotDefined("KAFKA_BROKERS")
    truthy = ("1", "true", "TRUE", "True")
    use_tls = env.get("KAFKA_USE_TLS", "") in truthy
    use_sasl = env.get("KAFKA_USE_SASL", "") in truthy
    kerberos = (
        load_kerberos_config_from_env(env)
        if env.get("ENABLE_KERBEROS", "") in truthy
        else None
    )
    opts = {
        "kafka.bootstrap.servers": brokers,
        "kafka.batch.size": env.get("KAFKA_BATCH_BYTES", "1000000"),
        "kafka.linger.ms": env.get("KAFKA_BATCH_TIMEOUT", "5"),
        "kafka.max.in.flight.requests.per.connection": "1",
        "kafka.enable.idempotence": "true",
    }
    opts.update(
        kafka_security_options(
            use_tls=use_tls,
            skip_verify=env.get("KAFKA_SKIP_VERIFY", "") in truthy,
            sasl_username=env.get("SASL_USERNAME") if use_sasl else None,
            sasl_password=env.get("SASL_PASSWORD") if use_sasl else None,
            kerberos=kerberos,
            disable_compression=env.get("KAFKA_DISABLE_COMPRESSION", "") in truthy,
        )
    )
    return opts


def publish_files_ordered(records_kafka_ready, path: str):
    """Order-OBSERVABLE stand-in sink (no broker in the container): writes
    the same partitioning + intra-partition order publish_kafka would hand
    the Kafka producer, one file per producer partition.  Tests read the
    files back in physical row order and assert each key's publish_seq is
    monotone — the observable form of the reference's per-key order
    guarantee."""
    _order_for_publish(records_kafka_ready).write.mode("append").parquet(path)
