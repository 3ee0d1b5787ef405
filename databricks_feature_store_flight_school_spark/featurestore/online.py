"""Online-store specs: the call-shape parity layer for ``publish_table``.

The reference publishes with a spec object, not a raw JDBC url
(Feature_Store_Telco_Churn_Sean_Original.py:374-387):

    online_store = AmazonRdsMySqlSpec(hostname, port, user, password)
    fs.publish_table(name='db.features', online_store=online_store)

A spec is just a declarative bundle of (jdbc url, driver class, credential
properties); ``FeatureStoreClient.publish_table(online_store=...)`` resolves
it to the same JDBC writer path the url form uses — full overwrite or
incremental change-feed publish both work against any spec.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class OnlineStoreSpec:
    """Generic JDBC online store: bring your own url + driver.

    ``properties`` carries any extra writer options (batchsize, SSL flags,
    ...) alongside the credentials."""

    jdbc_url: str
    driver: str | None = None
    user: str | None = None
    password: str | None = None
    properties: dict[str, str] = field(default_factory=dict)

    def jdbc_options(self) -> tuple[str, dict[str, str]]:
        """(url, properties-with-credentials) for the JDBC writer."""
        props = dict(self.properties)
        if self.driver:
            props.setdefault("driver", self.driver)
        if self.user is not None:
            props.setdefault("user", self.user)
        if self.password is not None:
            props.setdefault("password", self.password)
        return self.jdbc_url, props


@dataclass
class AmazonRdsMySqlSpec(OnlineStoreSpec):
    """MySQL-compatible RDS spec — positional (hostname, port, user,
    password[, database]) exactly as the reference constructs it (SO:384).

    The MySQL session is forced into ANSI_QUOTES so the incremental
    publish's quoted-identifier DELETE/INSERT statements parse (the writer
    quotes column names with ANSI double quotes)."""

    def __init__(
        self,
        hostname: str,
        port: int = 3306,
        user: str | None = None,
        password: str | None = None,
        database: str = "feature_store",
        properties: dict[str, str] | None = None,
    ):
        url = (
            f"jdbc:mysql://{hostname}:{int(port)}/{database}"
            "?sessionVariables=sql_mode=ANSI_QUOTES"
        )
        super().__init__(
            jdbc_url=url,
            driver="com.mysql.cj.jdbc.Driver",
            user=user,
            password=password,
            properties=dict(properties or {}),
        )


@dataclass
class EmbeddedDerbySpec(OnlineStoreSpec):
    """In-JVM Derby — the testable stand-in this container can actually
    round-trip (tests/test_sinks.py); same spec surface as the RDS form."""

    def __init__(self, db_path: str, create: bool = True):
        url = f"jdbc:derby:{db_path}" + (";create=true" if create else "")
        super().__init__(
            jdbc_url=url, driver="org.apache.derby.jdbc.EmbeddedDriver"
        )
