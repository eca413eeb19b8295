"""Crawl configuration.

Mirrors the reference's ``xcrawl3r.Configuration``
(pkg/xcrawl3r/xcrawl3r.go:366-376) plus the batch engine's own knobs:
fetch mode, dedup scope, robots enforcement, skew salting, image ingest,
snapshot checkpointing and frontier range buckets. Defaults follow
internal/configuration/configuration.go:95-110.
"""

from __future__ import annotations

from dataclasses import InitVar, dataclass, field

#: mirrors the reference's configuration.VERSION
#: (internal/configuration/configuration.go:64) — the value its
#: merge-on-version-change compares the YAML's ``version:`` key against
CONFIG_VERSION = "1.2.0"

#: fields removed from CrawlConfig that ``create_or_update`` wrote into
#: every scaffold before their removal; ``from_yaml`` drops them so those
#: files keep loading (any other unknown key still errors)
RETIRED_KEYS = frozenset({
    "bucketed_seen", "iceberg_catalog", "iceberg_namespace",
    "shuffle_partitions", "bloom_enabled", "filter_kind", "bloom_partitions",
    "bloom_bits", "bloom_hashes", "cuckoo_buckets"})

#: spellings a boolean XCRAWL3R_* variable accepts (case-insensitive);
#: any other value raises rather than silently reading as False
_ENV_TRUE = ("1", "true", "yes", "on")
_ENV_FALSE = ("0", "false", "no", "off")


@dataclass
class CrawlConfig:
    # --- reference-faithful knobs -------------------------------------
    #: scope domains; empty -> generic URL scope (xcrawl3r.go:392)
    domains: list[str] = field(default_factory=list)
    #: widen scope regex to subdomains (xcrawl3r.go:411-413)
    include_subdomains: bool = False
    #: max BFS depth; seeds are depth 1; 0 = unbounded
    #: (xcrawl3r.go:274; default 1 per configuration.go:106)
    depth: int = 1
    #: per-host fetch budget per iteration — the batch-time equivalent of
    #: colly LimitRule.Parallelism (xcrawl3r.go:277-281; default 5).
    #: Budget-per-iteration replaces rate-per-second; overflow rows are
    #: re-queued to the next iteration at the same depth.
    parallelism: int = 5
    #: expand each seed with /robots.txt + 12 sitemap paths
    #: (xcrawl3r.go:241-264); disable for pure link-BFS runs
    expand_seeds: bool = True

    # --- reference config surface carried for API parity ---------------
    # (xcrawl3r.Configuration, pkg/xcrawl3r/xcrawl3r.go:366-376; defaults
    # internal/configuration/configuration.go:95-110). These knobs shape
    # the reference's HTTP transport / wall-clock scheduling, which have
    # no sandbox dataflow effect — documented per-field.
    #: random inter-request delay ceiling, seconds (xcrawl3r.go:280).
    #: Deliberately DROPPED from the batch data plane (SURVEY §2.6 A2):
    #: wall-clock randomness would break bit-identical resume; the
    #: per-iteration budget (``parallelism``) subsumes politeness.
    delay: int = 0
    #: HTTP request timeout, seconds (configuration.go:102); honored by
    #: the real fetch stage (operators/fetch.py) when fetch_mode="http"
    timeout: int = 10
    #: "Header: value" strings injected per request (xcrawl3r.go:285-305);
    #: honored by the real fetch stage when fetch_mode="http"
    headers: list[str] = field(default_factory=list)
    #: round-robin proxy URLs (xcrawl3r.go:332-341); honored by the real
    #: fetch stage when fetch_mode="http"
    proxies: list[str] = field(default_factory=list)
    #: worker-pool width C (main.go:183-185): inter-task parallelism is
    #: Spark's (SURVEY §2.6 A3); with fetch_mode="http" this is also the
    #: per-task in-flight request count (I/O thread pool width)
    concurrency: int = 5
    #: skip TLS certificate verification on live fetches — the reference
    #: transport hardcodes ``InsecureSkipVerify: true``
    #: (pkg/xcrawl3r/xcrawl3r.go:319), so a crawl of a self-signed or
    #: expired-cert host succeeds there; default matches. SECURITY
    #: POSTURE: a crawler deliberately accepts any cert (it is reading
    #: public content, not authenticating a peer); set False to verify
    #: against the system trust store when crawling trusted infra.
    tls_skip_verify: bool = True
    debug: bool = False

    # --- batch-engine knobs (north rule) ------------------------------
    #: fetch stage: "table" = deterministic frontier ⋈ pages join (the
    #: sandbox test double; default), "http" = real network fetch via the
    #: Arrow-batched mapInPandas stage (operators/fetch.py) honoring
    #: timeout/headers/proxies/concurrency. With "http", crawl()'s pages
    #: argument may be None.
    fetch_mode: str = "table"
    #: size cap for live binary payload GETs (fetch_mode="http" image
    #: branch): an oversized payload becomes a per-row failure (null
    #: bytes, status kept) instead of an executor OOM. 0 = uncapped.
    max_payload_bytes: int = 16 * 1024 * 1024
    #: dedup scope: per-seed (reference-faithful: fresh collector per seed,
    #: xcrawl3r.go:52) or global (strictly cheaper; one seen-set)
    global_dedup: bool = False
    #: enforce robots.txt allow/deny (north rule; the reference only MINES
    #: robots for URLs and ignores its rules, xcrawl3r.go:272)
    obey_robots: bool = False
    #: salt buckets for hot-host skew: politeness_flag's two-phase top-k
    #: ranks per (seed, host, pmod(url_hash, skew_salt)) bucket first
    skew_salt: int = 8
    #: route media-ext URLs (F3 deny-list) into the image-ingest branch
    #: instead of dropping them (north rule)
    ingest_images: bool = True
    #: checkpoint directory for the crawl waves' snapshots; None = no
    #: checkpointing (resume disabled)
    checkpoint_dir: str | None = None
    #: range-partitioned priority buckets for the frontier (north rule
    #: A5): 0 = off (default), None = session shuffle partitions, N = N
    #: buckets. Total order (depth, disc_iter, host_rank, url_hash);
    #: bounds bucket sizes at 10^10-frontier scale and keeps the
    #: checkpoint priority-local. Costs one range-sampling pass + shuffle
    #: per iteration (~25% on a many-small-waves BFS, measured) — enable
    #: when per-iteration frontiers reach ~10^7+ rows, where bounded
    #: buckets matter and the sampling cost amortizes
    frontier_range_partitions: int | None = 0
    #: retired (RETIRED_KEYS); accepted and ignored so that callers still
    #: passing it keep working. An InitVar, not a field: fields(),
    #: asdict() and the scaffold never see it
    bloom_enabled: InitVar[bool | None] = None

    def __post_init__(self, bloom_enabled: bool | None) -> None:
        # free-string mode knobs fail fast: fetch_mode='HTTP' (or a typo)
        # would otherwise silently crawl the deterministic pages-join test
        # double instead of the network
        if self.fetch_mode not in ("table", "http"):
            raise ValueError(
                f"fetch_mode must be 'table' or 'http', got {self.fetch_mode!r}")

    @classmethod
    def create_or_update(cls, path: str) -> None:
        """S8 parity with ``configuration.CreateOrUpdate``
        (internal/configuration/configuration.go:113-146):

        * missing file → write the full default config (every field, plus
          ``version: CONFIG_VERSION``), creating parent dirs like
          ``Configuration.Write`` (configuration.go:34-46);
        * existing file whose ``version`` differs → merge defaults in the
          mergo way (user-set keys WIN; only keys absent from the file get
          default values), stamp the current version, rewrite;
        * same version → leave the file untouched.
        """
        import os as _os
        from dataclasses import fields as _fields

        import yaml as _yaml

        defaults = {
            f.name: getattr(cls(), f.name) for f in _fields(cls)}

        def _write(doc: dict) -> None:
            d = _os.path.dirname(path)
            if d:
                _os.makedirs(d, exist_ok=True)
            with open(path, "w") as fh:
                # version first so a human diffing the scaffold sees the
                # merge trigger up top, like the reference's struct order
                fh.write(_yaml.safe_dump(
                    {"version": doc.pop("version")}, sort_keys=False))
                fh.write(_yaml.safe_dump(doc, sort_keys=True))

        if not _os.path.exists(path):
            _write({"version": CONFIG_VERSION, **defaults})
            return
        with open(path) as fh:
            loaded = _yaml.safe_load(fh) or {}
        if loaded.get("version") == CONFIG_VERSION:
            return
        merged = {**defaults, **{k: v for k, v in loaded.items()
                                 if k != "version"}}
        _write({"version": CONFIG_VERSION, **merged})

    @classmethod
    def from_yaml(cls, path: str | None = None, **overrides) -> "CrawlConfig":
        """S8 config source: YAML file + ``XCRAWL3R_*`` env + overrides,
        later wins — the same merge order as the reference's
        viper(YAML+env)+flags stack (internal/configuration/
        configuration.go:15-32, cmd/xcrawl3r/main.go:130-163).

        Env values parse by field type: bools accept 1/true/yes/on and
        0/false/no/off (any case; anything else raises), lists
        split on commas. Unknown YAML keys error (typo safety).
        """
        import os as _os
        from dataclasses import fields as _fields

        import yaml as _yaml

        known = {f.name: f for f in _fields(cls)}
        merged: dict = {}
        if path:
            with open(path) as fh:
                loaded = _yaml.safe_load(fh) or {}
            # ``version`` is file metadata (the create/merge trigger),
            # not a config field — same as the reference struct's Version
            loaded.pop("version", None)
            for k in RETIRED_KEYS:
                loaded.pop(k, None)
            unknown = set(loaded) - set(known)
            if unknown:
                raise ValueError(f"unknown config keys: {sorted(unknown)}")
            merged.update(loaded)
        for name, f in known.items():
            raw = _os.environ.get(f"XCRAWL3R_{name.upper()}")
            if raw is None:
                continue
            t = str(f.type)
            if "list" in t:
                merged[name] = [x.strip() for x in raw.split(",") if x.strip()]
            elif "bool" in t:
                word = raw.strip().lower()
                if word not in _ENV_TRUE + _ENV_FALSE:
                    raise ValueError(
                        f"XCRAWL3R_{name.upper()}={raw!r}: expected one of "
                        f"{'/'.join(_ENV_TRUE)} or {'/'.join(_ENV_FALSE)}")
                merged[name] = word in _ENV_TRUE
            elif "int" in t:
                merged[name] = int(raw)
            else:
                merged[name] = raw
        merged.update(overrides)
        return cls(**merged)

    def scope_pattern(self) -> str:
        """Build the URL scope regex, ported from xcrawl3r.go:392-414.

        Go RE2 patterns have no backrefs so they port to Java regex
        verbatim. Matching is a *search* (Go ``MatchString``), i.e.
        unanchored — mirrored by using rlike (also a search).
        """
        import re as _re

        if not self.domains:
            return (
                r"https?://([a-z0-9-]+\.)(?:[a-z0-9-]+\.)+[a-z]{2,}(:\d+)?"
                r"(?:/[^?\s#]*)?(?:\?[^#\s]*)?(?:#[^\s]*)?"
            )
        alt = "(?:" + "|".join(_re.escape(d) for d in self.domains) + ")"
        if self.include_subdomains:
            host = r"([a-z0-9-]+\.)*" + alt
        else:
            host = r"(www\.)?" + alt
        return (
            r"https?://" + host + r"(:\d+)?"
            r"(?:/[^?\s#]*)?(?:\?[^#\s]*)?(?:#[^\s]*)?"
        )
