"""DbConfig loader: explicit-beats-env-beats-file precedence, url
assembly, secret masking — the reference's .env connection contract
(ventas_totales.py:16-41) in library form."""

from __future__ import annotations

import pytest

from etl_rj_spark.config import DbConfig, load_db_config, parse_env_file


def _env_file(tmp_path, text):
    p = tmp_path / ".env"
    p.write_text(text)
    return str(p)


class TestParseEnvFile:
    def test_parses_comments_quotes_export(self, tmp_path):
        p = _env_file(tmp_path, """
# warehouse connection
SERVER_NAME=db.example.test
export PORT=1433
DATABASE_NAME="Ventas DB"
DB_USERNAME='loader'
DB_PASSWORD=p4=ss  # NOT a comment: dotenv keeps the whole value
EMPTY=
""")
        vals = parse_env_file(p)
        assert vals["SERVER_NAME"] == "db.example.test"
        assert vals["PORT"] == "1433"
        assert vals["DATABASE_NAME"] == "Ventas DB"
        assert vals["DB_USERNAME"] == "loader"
        assert vals["DB_PASSWORD"].startswith("p4=ss")
        assert vals["EMPTY"] == ""

    def test_missing_file_raises(self, tmp_path):
        with pytest.raises(FileNotFoundError):
            parse_env_file(str(tmp_path / "nope.env"))


class TestPrecedence:
    def test_env_beats_file(self, tmp_path):
        f = _env_file(tmp_path, "SERVER_NAME=from-file\nPORT=1111\n")
        cfg = load_db_config(f, environ={"SERVER_NAME": "from-env"})
        assert cfg.server == "from-env"   # env wins
        assert cfg.port == "1111"         # file fills the gap

    def test_explicit_beats_env(self, tmp_path):
        cfg = load_db_config(
            environ={"SERVER_NAME": "from-env", "PORT": "1111"},
            server="explicit",
        )
        assert cfg.server == "explicit"
        assert cfg.port == "1111"

    def test_unknown_override_raises(self):
        with pytest.raises(TypeError, match="unknown"):
            load_db_config(pasword="typo")  # codespell:ignore pasword

    def test_table_name_overrides(self):
        cfg = load_db_config(environ={}, ventas_table="V2", clientes_table="C2")
        assert (cfg.ventas_table, cfg.clientes_table) == ("V2", "C2")

    def test_reference_defaults(self):
        cfg = load_db_config(environ={})
        assert cfg.ventas_table == "Ventas_Totales"
        assert cfg.clientes_table == "Clientes"


class TestJdbcUrl:
    def test_assembles_sqlserver_url(self):
        cfg = DbConfig(server="h", port="1433", database="d")
        assert cfg.jdbc_url() == "jdbc:sqlserver://h:1433;databaseName=d"

    def test_explicit_url_wins(self):
        cfg = DbConfig(server="h", port="1", database="d", url="jdbc:derby:memory:x")
        assert cfg.jdbc_url() == "jdbc:derby:memory:x"

    def test_missing_parts_raise(self):
        with pytest.raises(ValueError, match="missing"):
            DbConfig(server="h").jdbc_url()

    def test_properties_only_set_keys(self):
        assert DbConfig().jdbc_properties() == {}
        props = DbConfig(user="u", password="s3cret", driver="drv").jdbc_properties()
        assert props == {"user": "u", "password": "s3cret", "driver": "drv"}

    def test_password_masked_in_repr(self):
        cfg = DbConfig(user="u", password="s3cret")
        assert "s3cret" not in repr(cfg)
        # but the credential is still resolvable where it belongs
        assert cfg.jdbc_properties()["password"] == "s3cret"

