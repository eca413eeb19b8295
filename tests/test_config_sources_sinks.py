"""S1-S3 seed sources, S6/S7 file sinks, S8 YAML+env config merge."""

import json
import os

import pytest

from xcrawl3r_spark.config import CrawlConfig
from xcrawl3r_spark.sinks.files import write_jsonl, write_txt
from xcrawl3r_spark.sources.seeds import seeds_from_list_file, seeds_from_urls


def test_config_yaml_env_override_merge(tmp_path, monkeypatch):
    cfg_file = tmp_path / "conf.yaml"
    cfg_file.write_text(
        "domains: [example.com, example.org]\n"
        "depth: 3\n"
        "timeout: 20\n"
        "headers: ['User-Agent: x']\n"
    )
    monkeypatch.setenv("XCRAWL3R_DEPTH", "5")              # env beats yaml
    monkeypatch.setenv("XCRAWL3R_INCLUDE_SUBDOMAINS", "true")
    monkeypatch.setenv("XCRAWL3R_PROXIES", "http://p1,http://p2")
    cfg = CrawlConfig.from_yaml(str(cfg_file), parallelism=9)  # kwarg beats env
    assert cfg.domains == ["example.com", "example.org"]
    assert cfg.depth == 5
    assert cfg.timeout == 20
    assert cfg.include_subdomains is True
    assert cfg.proxies == ["http://p1", "http://p2"]
    assert cfg.parallelism == 9
    assert cfg.headers == ["User-Agent: x"]


def test_config_create_on_missing_path(tmp_path):
    # configuration.CreateOrUpdate's missing-file branch
    # (configuration.go:118-124): first run writes the default scaffold,
    # parent dirs included, and the scaffold round-trips through from_yaml
    from xcrawl3r_spark.config import CONFIG_VERSION

    path = tmp_path / "nested" / "config.yaml"
    CrawlConfig.create_or_update(str(path))
    assert path.exists()
    import yaml

    doc = yaml.safe_load(path.read_text())
    assert doc["version"] == CONFIG_VERSION
    assert doc["depth"] == 1 and doc["timeout"] == 10
    cfg = CrawlConfig.from_yaml(str(path))
    assert cfg == CrawlConfig()
    # same-version file is left byte-identical (no rewrite churn)
    before = path.read_text()
    CrawlConfig.create_or_update(str(path))
    assert path.read_text() == before


def test_config_merge_on_version_change(tmp_path):
    # configuration.CreateOrUpdate's mergo branch (configuration.go:126-144):
    # an old-version file keeps every user-set value, gains missing keys
    # at their defaults, and has its version stamped to current
    from xcrawl3r_spark.config import CONFIG_VERSION

    path = tmp_path / "config.yaml"
    path.write_text(
        "version: 0.9.0\n"
        "depth: 7\n"                      # user value must survive
        "proxies: [http://p1]\n"
    )
    CrawlConfig.create_or_update(str(path))
    import yaml

    doc = yaml.safe_load(path.read_text())
    assert doc["version"] == CONFIG_VERSION
    assert doc["depth"] == 7
    assert doc["proxies"] == ["http://p1"]
    assert doc["timeout"] == 10           # missing key gained its default
    cfg = CrawlConfig.from_yaml(str(path))
    assert cfg.depth == 7 and cfg.proxies == ["http://p1"]


def test_config_unknown_key_rejected(tmp_path):
    bad = tmp_path / "bad.yaml"
    bad.write_text("dephts: 3\n")
    try:
        CrawlConfig.from_yaml(str(bad))
        raise AssertionError("typo key must raise")
    except ValueError as e:
        assert "dephts" in str(e)


@pytest.mark.parametrize("raw,want", [
    (" On ", True), ("YES", True), ("1", True), ("true", True),
    ("Off", False), (" no", False), ("0", False), ("FALSE", False),
    ("ture", None), ("", None), ("2", None),
])
def test_config_env_bool_spellings(monkeypatch, raw, want):
    """A boolean variable takes 1/true/yes/on or 0/false/no/off in any
    case; a typo raises naming the variable instead of reading False."""
    monkeypatch.setenv("XCRAWL3R_GLOBAL_DEDUP", raw)
    if want is None:
        with pytest.raises(ValueError, match="XCRAWL3R_GLOBAL_DEDUP"):
            CrawlConfig.from_yaml()
    else:
        assert CrawlConfig.from_yaml().global_dedup is want


def test_seeds_from_urls_blank_filter_and_stable_ids(spark):
    df = seeds_from_urls(spark, ["https://a.test/", "  ", "", "b.test"])
    rows = {r["url"]: r["seed_id"] for r in df.collect()}
    assert set(rows) == {"https://a.test/", "b.test"}
    again = {r["url"]: r["seed_id"]
             for r in seeds_from_urls(spark, ["b.test"]).collect()}
    assert again["b.test"] == rows["b.test"]  # content-derived, stable


def test_seeds_from_list_file(spark, tmp_path):
    f = tmp_path / "seeds.txt"
    f.write_text("https://a.test/x\n\n   \nhttps://b.test/y\n")
    out = seeds_from_list_file(spark, str(f)).collect()
    assert sorted(r["url"] for r in out) == [
        "https://a.test/x", "https://b.test/y"]
    assert all(len(r["seed_id"]) == 32 for r in out)


def test_txt_jsonl_sinks_roundtrip(spark, tmp_path):
    urls = spark.createDataFrame(
        [("https://a.test/1",), ("https://a.test/2",)], "url string")
    tpath = write_txt(urls, str(tmp_path / "out"))          # forces .txt
    jpath = write_jsonl(urls, str(tmp_path / "outj"))       # forces .json
    assert tpath.endswith(".txt") and jpath.endswith(".json")
    lines = sorted(
        ln for part in os.listdir(tpath) if part.startswith("part-")
        for ln in open(os.path.join(tpath, part)).read().splitlines()
    )
    assert lines == ["https://a.test/1", "https://a.test/2"]
    recs = sorted(
        json.loads(ln)["url"]
        for part in os.listdir(jpath) if part.startswith("part-")
        for ln in open(os.path.join(jpath, part)).read().splitlines()
    )
    assert recs == ["https://a.test/1", "https://a.test/2"]


def test_config_scaffold_with_retired_keys_loads(tmp_path):
    """A scaffold written before bucketed_seen/iceberg_catalog/
    iceberg_namespace/shuffle_partitions and the seen-filter knobs were
    removed carries them at the SAME version, so create_or_update leaves
    it untouched; from_yaml must still load it. A misspelt key next to
    them must still raise, and no retired name may shadow a live field
    (from_yaml would drop it). ``bloom_enabled=`` is still accepted as a
    keyword, and ignored."""
    from dataclasses import asdict, fields, replace

    import yaml

    from xcrawl3r_spark.config import CONFIG_VERSION, RETIRED_KEYS

    assert not RETIRED_KEYS & {f.name for f in fields(CrawlConfig)}
    old = {**asdict(CrawlConfig()), "bucketed_seen": 8,
           "iceberg_catalog": None, "iceberg_namespace": "crawl",
           "shuffle_partitions": None, "bloom_enabled": True,
           "filter_kind": "bloom", "bloom_partitions": 8,
           "bloom_bits": 1 << 20, "bloom_hashes": 7,
           "cuckoo_buckets": 1 << 15}
    assert set(old) - set(asdict(CrawlConfig())) == RETIRED_KEYS
    text = (yaml.safe_dump({"version": CONFIG_VERSION}, sort_keys=False)
            + yaml.safe_dump(old, sort_keys=True))
    path = tmp_path / "config.yaml"
    path.write_text(text)
    CrawlConfig.create_or_update(str(path))
    assert path.read_text() == text          # same version: untouched
    assert CrawlConfig.from_yaml(str(path)) == CrawlConfig()

    path.write_text(text + "dephts: 3\n")
    try:
        CrawlConfig.from_yaml(str(path))
        raise AssertionError("typo key must raise")
    except ValueError as e:
        assert "dephts" in str(e) and "iceberg" not in str(e)

    passed = CrawlConfig(depth=3, bloom_enabled=True, global_dedup=True)
    assert passed == CrawlConfig(depth=3, global_dedup=True)
    assert replace(passed, depth=2) == CrawlConfig(depth=2, global_dedup=True)


def test_every_config_field_is_read():
    """A CrawlConfig field no code reads is a dead knob: each one must
    appear as ``cfg.<name>`` somewhere in the package (or ``self.<name>``
    inside config.py). ``delay`` and ``debug`` are the reference-parity
    flags the CLI accepts and the batch data plane deliberately ignores."""
    import pathlib
    import re
    from dataclasses import fields

    import xcrawl3r_spark

    root = pathlib.Path(xcrawl3r_spark.__file__).parent
    srcs = [(p == root / "config.py", p.read_text())
            for p in root.rglob("*.py")]
    dead = [
        f.name for f in fields(CrawlConfig)
        if f.name not in ("delay", "debug")
        and not any(re.search(rf"\bcfg\.{f.name}\b", s)
                    or (is_cfg and re.search(rf"\bself\.{f.name}\b", s))
                    for is_cfg, s in srcs)
    ]
    assert dead == []


def test_seeds_from_stdin_piped(spark, monkeypatch):
    """S3 (r1 verdict item 6): piped stdin yields trimmed, blank-filtered
    seeds with the same content-derived ids as the other sources; a tty
    stdin yields an empty frame."""
    import io

    from xcrawl3r_spark.sources.seeds import seeds_from_stdin, seeds_from_urls

    class _Pipe(io.StringIO):
        def isatty(self):
            return False

    monkeypatch.setattr(
        "sys.stdin", _Pipe("https://a.test/\n\n  \nb.test\n"))
    got = {(r["seed_id"], r["url"]) for r in seeds_from_stdin(spark).collect()}
    want = {(r["seed_id"], r["url"])
            for r in seeds_from_urls(spark, ["https://a.test/", "b.test"]).collect()}
    assert got == want and len(got) == 2

    class _Tty(io.StringIO):
        def isatty(self):
            return True

    monkeypatch.setattr("sys.stdin", _Tty("ignored.test\n"))
    assert seeds_from_stdin(spark).count() == 0

    monkeypatch.setattr("sys.stdin", _Pipe("\n   \n"))
    assert seeds_from_stdin(spark).count() == 0  # blanks only -> empty
