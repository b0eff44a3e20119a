"""The four GHTorrent import pipelines (reference entry points B/C/D,
SURVEY §3) as set-oriented Spark jobs over the FIXTURES.md §A raw tables.

The reference processes one BSON document at a time with 2-4 SQL
round-trips each (``/root/reference/ght2dm.go:240-337,494-548,657-728,
814-887``); here each pipeline is one DataFrame composition: the per-row
skip-if-exists probes become a newest-wins window + anti-joins, the
per-row FK lookups become broadcast joins, and the PL/pgSQL repos
finalize script fuses into the same job.

Semantic fidelity notes (each cites the behavior preserved):

- Zero-value policy (SURVEY §1.3): BSON-missing fields are Go zero values
  (``""``/``0``/``false``); fixture NULLs are coalesced to those zeros on
  entry so downstream ``== ''`` logic matches the reference.
- Newest-wins (S3+F3): per natural key, the row from the newest file_date
  wins; within a file the smallest file_pos wins (the reference processes
  files newest-first and skips keys already inserted,
  ``ght2dm.go:1010,1019-1020`` + ``:341,376,415``).
- Surrogate keys (S7): PostgreSQL serials are replaced by a deterministic
  rank over the natural key (github_id / clone_path).  Key VALUES differ
  from the reference's insertion-order serials — keys are opaque — but
  every FK relationship is preserved.  The reference binds
  ``users_repositories.user_id`` from gh_users.id (``ght2dm.go:918-947``),
  which equals users.id only because both serials advance in lockstep in
  the User branch (``ght2dm.go:296-302``); here users.id, gh_users.id and
  gh_users.user_id are assigned as ONE surrogate from the same winning
  row, preserving that invariant structurally.
- size_in_kb quirk: the staging insert never binds size_in_kb
  (``ght2dm.go:596-617`` vs ``db/create_tmp_tables.sql:29``), so
  gh_repositories.size_in_kb is always NULL despite being selected by the
  finalize script (``db/insert_from_tmp_tables.sql:33``).  Preserved.
- Lenient dates: users/orgs with empty created_at would make the
  reference's PG cast fail and drop the row (E1); here they become NULL
  (documented divergence — stricter callers can filter the output).

Scale: every join against a dimension table is broadcast (bounded dims);
the only wide shuffles are the newest-wins / extremal windows keyed by
the natural key — uniform high-cardinality keys, AQE handles residual
skew.  No Python UDFs anywhere.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ght2dm_spark.functions.cleaning import coalesce_empty, strip_null_bytes, to_ts
from ght2dm_spark.functions.derive import clone_path, full_name
from ght2dm_spark.operators.dedup import dedup_exact, dedup_newest, keep_extremal
from ght2dm_spark.operators.joins import anti_join, broadcast_lookup
from ght2dm_spark.operators.keys import add_surrogate_key, pinned

def _newest():
    """Newest-wins ordering: newest dump first, first occurrence within a
    file (ght2dm.go:985-1011 sorts files newest-first; the skip-if-exists
    probe makes the first-processed row win).  Built lazily — Column
    construction needs an active session."""
    return [F.col("file_date").desc(), F.col("file_pos").asc()]


def _zs(c: str):
    """Zero-value string read: NULL → '' (SURVEY §1.3)."""
    return F.coalesce(F.col(c), F.lit(""))


def _zl(c: str):
    return F.coalesce(F.col(c), F.lit(0).cast("long"))


class UsersResult(NamedTuple):
    users: DataFrame
    gh_users: DataFrame
    gh_organizations: DataFrame
    rejects: DataFrame


def import_users(
    raw: DataFrame,
    existing_gh_users: DataFrame | None = None,
    existing_gh_organizations: DataFrame | None = None,
    nocheck: bool = False,
    user_key_start: int = 1,
    org_key_start: int = 1,
) -> UsersResult:
    """Entry point B (``ght2dm.go:240-337``): one job replaces the
    scan → type-switch → probe → insert row loop.

    Split FIRST, dedup per branch: the reference dedups per target table
    (fetchGhUserID / fetchOrgID probe different tables), so a github_id
    appearing as both types across dumps legitimately lands in both
    outputs — branch-local newest-wins reproduces that.

    ``raw`` may still hold the decode's corrupt rows (``_corrupt`` set):
    they carry no type, so they land in ``rejects`` with the rest.
    """
    typed = raw.filter(F.col("type").isin("User", "Organization"))
    # E1: invalid type → reject (ght2dm.go:311-313).  NULL type is
    # invalid too: the reference's zero-value policy turns a missing
    # field into "" which hits the switch default and is rejected —
    # without the isNull branch, three-valued logic would make the
    # predicate NULL and the row vanish from every output.
    rejects = raw.filter(
        F.col("type").isNull() | ~F.col("type").isin("User", "Organization")
    )

    if not nocheck:
        # per (type, id): each branch dedups and skips its own loaded keys
        typed = dedup_newest(typed, keys=["type", "id"], order=_newest())
        loaded = [
            existing.select(F.lit(t).alias("type"), F.col("github_id").alias("id"))
            for t, existing in (
                ("User", existing_gh_users),
                ("Organization", existing_gh_organizations),
            )
            if existing is not None
        ]
        if loaded:
            typed = anti_join(
                typed, reduce(DataFrame.unionByName, loaded), ["type", "id"]
            )

    # One surrogate per winning doc: users.id = gh_users.id =
    # gh_users.user_id (see module doc on the reference's lockstep serials).
    # Users and organizations are numbered in one pass, each from its own
    # start.
    typed = add_surrogate_key(
        typed.drop("file_date", "file_pos", "_corrupt"),
        order_by=["id"],
        name="__sk",
        start={"User": user_key_start, "Organization": org_key_start},
        by="type",
    )
    users_b = typed.filter(F.col("type") == "User")
    orgs_b = typed.filter(F.col("type") == "Organization")

    users = users_b.select(
        F.col("__sk").alias("id"),
        _zs("login").alias("username"),
        _zs("name").alias("name"),
        _zs("email").alias("email"),
    )
    # Column set and order: ghUsersFields (ght2dm.go:107-122); C8 coalesce
    # updated_at ← created_at (ght2dm.go:387-389).
    gh_users = users_b.select(
        F.col("__sk").alias("id"),
        F.col("__sk").alias("user_id"),
        F.col("id").alias("github_id"),
        _zs("login").alias("login"),
        _zs("bio").alias("bio"),
        _zs("company").alias("company"),
        _zs("email").alias("email"),
        F.coalesce(F.col("hireable"), F.lit(False)).alias("hireable"),
        _zs("location").alias("location"),
        _zs("avatar_url").alias("avatar_url"),
        _zs("html_url").alias("html_url"),
        _zl("followers").alias("followers_count"),
        _zl("following").alias("following_count"),
        to_ts(_zs("created_at")).alias("created_at"),
        to_ts(coalesce_empty(_zs("updated_at"), _zs("created_at"))).alias("updated_at"),
    )
    # ghOrgsFields (ght2dm.go:123-134); C8 at ght2dm.go:352-354.
    gh_organizations = orgs_b.select(
        F.col("__sk").alias("id"),
        _zs("login").alias("login"),
        F.col("id").alias("github_id"),
        _zs("avatar_url").alias("avatar_url"),
        _zs("html_url").alias("html_url"),
        _zs("name").alias("name"),
        _zs("company").alias("company"),
        _zs("location").alias("location"),
        _zs("email").alias("email"),
        to_ts(_zs("created_at")).alias("created_at"),
        to_ts(coalesce_empty(_zs("updated_at"), _zs("created_at"))).alias("updated_at"),
    )
    return UsersResult(users, gh_users, gh_organizations, rejects)


class ReposResult(NamedTuple):
    repositories: DataFrame
    gh_repositories: DataFrame




def import_repos(
    raw: DataFrame,
    existing_repositories: DataFrame | None = None,
    existing_gh_repositories: DataFrame | None = None,
    key_start: int = 1,
) -> ReposResult:
    """Entry point C, both phases fused: the Go staging loop
    (``ght2dm.go:494-548,578-623``) and the PL/pgSQL finalize
    (``db/insert_from_tmp_tables.sql:13-85``) as one DataFrame job — the
    staging table is just an intermediate DataFrame.
    """
    # ---- phase 1: staging projection (P3/P4/C1/F6) ----
    staged = raw.select(
        strip_null_bytes(_zs("name")).alias("name"),
        strip_null_bytes(_zs("language")).alias("primary_language"),
        strip_null_bytes(_zs("clone_url")).alias("clone_url"),
        strip_null_bytes(
            clone_path(_zs("language"), _zs("owner_login"), _zs("name"))
        ).alias("clone_path"),
        F.lit("git").alias("vcs"),
        F.col("id").alias("github_id"),
        strip_null_bytes(_zs("full_name")).alias("full_name"),
        strip_null_bytes(_zs("description")).alias("description"),
        strip_null_bytes(_zs("homepage")).alias("homepage"),
        F.coalesce(F.col("fork"), F.lit(False)).alias("fork"),
        strip_null_bytes(_zs("default_branch")).alias("default_branch"),
        strip_null_bytes(_zs("master_branch")).alias("master_branch"),
        strip_null_bytes(_zs("html_url")).alias("html_url"),
        _zl("forks_count").cast("int").alias("forks_count"),
        _zl("open_issues_count").cast("int").alias("open_issues_count"),
        _zl("stargazers_count").cast("int").alias("stargazers_count"),
        _zl("subscribers_count").cast("int").alias("subscribers_count"),
        _zl("watchers_count").cast("int").alias("watchers_count"),
        # never bound at staging → always NULL (see module doc)
        F.lit(None).cast("int").alias("size_in_kb"),
        to_ts(_zs("created_at")).alias("created_at"),
        to_ts(_zs("updated_at")).alias("updated_at"),
        to_ts(_zs("pushed_at")).alias("pushed_at"),
    )

    # ---- phase 2: finalize (A1+J7 extremal, A2 DISTINCT, J8/F8 anti, F7) ----
    surv = keep_extremal(
        staged,
        group=["clone_path"],
        max_cols=["updated_at", "pushed_at"],
        min_cols=["open_issues_count"],
    )
    surv = dedup_exact(surv)
    surv = surv.filter(
        (F.col("clone_url") != "")
        & (F.col("clone_path") != "")
        & (F.col("primary_language") != "")
    )
    if existing_gh_repositories is not None:
        surv = anti_join(
            surv, existing_gh_repositories.select("github_id"), "github_id"
        )
    if existing_repositories is not None:
        surv = anti_join(
            surv,
            existing_repositories.select("clone_path", "primary_language"),
            ["clone_path", "primary_language"],
        )

    # Surrogates ordered by the unique-constrained natural key
    # (repositories_unique_clone_path, insert_from_tmp_tables.sql:88);
    # github_id breaks ties deterministically if the invariant is violated.
    surv = add_surrogate_key(
        surv, order_by=["clone_path", "github_id"], name="__sk", start=key_start
    )
    repositories = surv.select(
        F.col("__sk").alias("id"),
        "name",
        "primary_language",
        "clone_url",
        "clone_path",
        "vcs",
    )
    gh_repositories = surv.select(
        F.col("__sk").alias("id"),
        F.col("__sk").alias("repository_id"),
        "github_id",
        "full_name",
        "description",
        "homepage",
        "fork",
        "default_branch",
        "master_branch",
        "html_url",
        "forks_count",
        "open_issues_count",
        "stargazers_count",
        "subscribers_count",
        "watchers_count",
        "size_in_kb",
        "created_at",
        "updated_at",
        "pushed_at",
    )
    return ReposResult(repositories, gh_repositories)


class OrgMembersResult(NamedTuple):
    gh_users_organizations: DataFrame
    rejects: DataFrame


def import_org_members(
    raw: DataFrame,
    gh_users: DataFrame,
    gh_organizations: DataFrame,
    existing: DataFrame | None = None,
    nocheck: bool = False,
) -> OrgMembersResult:
    """Entry point D-1 (``ght2dm.go:657-765``): resolve member/org logins
    via broadcast joins (J1/J2), drop unresolved with rejects (F9/E1),
    dedup pairs (F4's relation-exists probe also fires for rows inserted
    earlier in the same run → distinct), anti-join vs existing.

    ``nocheck`` skips the distinct + anti-join — the reference gates
    THIS importer's exists-probe on ``-nocheck`` too (``ght2dm.go:732``),
    inserting duplicate relation rows freely; FK resolution still runs
    (the reference resolves logins under nocheck as well)."""
    member = raw.select(_zs("login").alias("login"), _zs("org").alias("org"))
    u = gh_users.select(F.col("id").alias("gh_user_id"), "login")
    o = gh_organizations.select(
        F.col("id").alias("gh_organization_id"), F.col("login").alias("org")
    )
    withu = broadcast_lookup(member, u, "login", how="left")
    # the pairs and the rejects both read the resolved rows: pinned, the
    # broadcasts and the folder's decode run once for both
    witho = pinned(broadcast_lookup(withu, o, "org", how="left"))
    good = witho.filter(
        F.col("gh_user_id").isNotNull() & F.col("gh_organization_id").isNotNull()
    )
    rejects = witho.filter(
        F.col("gh_user_id").isNull() | F.col("gh_organization_id").isNull()
    ).select("login", "org")
    pairs = good.select("gh_user_id", "gh_organization_id")
    if not nocheck:
        pairs = pairs.distinct()
        if existing is not None:
            pairs = anti_join(
                pairs, existing, ["gh_user_id", "gh_organization_id"]
            )
    return OrgMembersResult(pairs, rejects)


class RepoCollaboratorsResult(NamedTuple):
    users_repositories: DataFrame
    rejects: DataFrame


def import_repo_collaborators(
    raw: DataFrame,
    gh_users: DataFrame,
    repositories: DataFrame,
    gh_repositories: DataFrame,
    existing: DataFrame | None = None,
    nocheck: bool = False,
) -> RepoCollaboratorsResult:
    """Entry point D-2 (``ght2dm.go:814-960``): key concat P6
    (owner || '/' || repo), resolve login → gh_users.id (which the
    reference binds as users_repositories.user_id — see module doc) and
    full_name → repositories.id through gh_repositories (J3), RI-drop
    with rejects, distinct, anti-join vs existing.

    ``nocheck`` skips the distinct + anti-join — the reference gates
    THIS importer's exists-probe on ``-nocheck`` too (``ght2dm.go:891``);
    FK resolution still runs either way."""
    coll = raw.select(
        _zs("login").alias("login"),
        full_name(_zs("owner"), _zs("repo")).alias("full_name"),
    )
    u = gh_users.select(F.col("id").alias("user_id"), "login")
    r = broadcast_lookup(
        gh_repositories.select("repository_id", "full_name"),
        repositories.select(F.col("id").alias("repository_id")),
        "repository_id",
    ).select(F.col("repository_id"), "full_name")
    withu = broadcast_lookup(coll, u, "login", how="left")
    # the pairs and the rejects both read the resolved rows: pinned, the
    # broadcasts and the folder's decode run once for both
    withr = pinned(broadcast_lookup(withu, r, "full_name", how="left"))
    good = withr.filter(
        F.col("user_id").isNotNull() & F.col("repository_id").isNotNull()
    )
    rejects = withr.filter(
        F.col("user_id").isNull() | F.col("repository_id").isNull()
    ).select("login", "full_name")
    pairs = good.select("user_id", "repository_id")
    if not nocheck:
        pairs = pairs.distinct()
        if existing is not None:
            pairs = anti_join(pairs, existing, ["user_id", "repository_id"])
    return RepoCollaboratorsResult(pairs, rejects)
