"""Seeded synthetic GHTorrent dump trees and a pure-Python model of what
importing them must produce.

A tree is four entity folders (``users``, ``repos``, ``org_members``,
``repo_collaborators``) of date-named ``.bson`` dumps, the layout
``config.run_from_config`` reads.  The generator writes the cases the
import has to handle:

- the same ids re-dumped across dated files, with fields that change
  (newest-wins for users; extremal-row selection for repos), and the
  same id twice inside one file;
- user documents whose ``type`` is neither ``User`` nor ``Organization``;
- one truncated final frame in the last users and repos dump;
- member and collaborator logins that resolve to no user, org or repo.

Repos carry a nested ``owner`` document, which
``ght2dm_spark.sources.bson.encode_doc`` does not encode, so this module
has its own encoder.
"""

from __future__ import annotations

import random
import struct
from dataclasses import dataclass, field
from datetime import date, timedelta
from pathlib import Path

ENTITIES = ("users", "repos", "org_members", "repo_collaborators")

#: the seven keyed/relation output tables of one import
OUTPUT_TABLES = (
    "users",
    "gh_users",
    "gh_organizations",
    "repositories",
    "gh_repositories",
    "gh_users_organizations",
    "users_repositories",
)

#: output tables whose ``id`` column is a surrogate key
KEYED_TABLES = ("users", "gh_users", "gh_organizations", "repositories", "gh_repositories")

_LANGS = ("Go", "Python", "C", "Rust", "Java", "Ruby", "JavaScript", "Haskell")
_WORDS = ("fast", "tiny", "data", "graph", "web", "cli", "sync", "parser", "db", "tool")


class ObjectId(bytes):
    """12-byte BSON ObjectId value (encoded as type 0x07)."""


def encode(doc: dict) -> bytes:
    """Encode a dict as one BSON document: str, bool, int (int32 when it
    fits, else int64), float, None, ObjectId and nested dicts."""
    parts = []
    for k, v in doc.items():
        name = k.encode() + b"\x00"
        if v is None:
            parts.append(b"\x0a" + name)
        elif isinstance(v, bool):
            parts.append(b"\x08" + name + (b"\x01" if v else b"\x00"))
        elif isinstance(v, int):
            if -(2**31) <= v < 2**31:
                parts.append(b"\x10" + name + struct.pack("<i", v))
            else:
                parts.append(b"\x12" + name + struct.pack("<q", v))
        elif isinstance(v, float):
            parts.append(b"\x01" + name + struct.pack("<d", v))
        elif isinstance(v, ObjectId):
            parts.append(b"\x07" + name + bytes(v))
        elif isinstance(v, str):
            s = v.encode() + b"\x00"
            parts.append(b"\x02" + name + struct.pack("<i", len(s)) + s)
        elif isinstance(v, dict):
            parts.append(b"\x03" + name + encode(v))
        else:
            raise TypeError(f"cannot encode {k!r}: {type(v).__name__}")
    body = b"".join(parts)
    return struct.pack("<i", len(body) + 5) + body + b"\x00"


@dataclass
class Dump:
    """One dated dump file: its documents in order, and whether a
    truncated frame follows them."""

    entity: str
    day: date
    docs: list[dict] = field(default_factory=list)
    truncated: bool = False

    @property
    def name(self) -> str:
        return f"{self.day.isoformat()}.bson"


@dataclass(frozen=True)
class TreeSize:
    """Distinct entities in a base tree; ``dumps`` dated files per entity."""

    users: int
    orgs: int
    repos: int
    members: int
    collabs: int
    dumps: int = 4


def _ts(rng: random.Random, day0: date, spread: int) -> str:
    d = day0 - timedelta(days=rng.randrange(spread))
    return f"{d.isoformat()} {rng.randrange(24):02d}:{rng.randrange(60):02d}:00"


class TreeGenerator:
    """Draws a dump tree from one seed.  Ids of users, orgs and repos
    come from disjoint ranges so logins never collide."""

    first_day = date(2015, 3, 1)

    def __init__(self, seed: int, size: TreeSize):
        self.rng = random.Random(seed)
        self.size = size
        self.users: list[int] = []
        self.orgs: list[int] = []
        self.repos: dict[int, dict] = {}  # github id -> latest repo doc
        self._next_user = 1_000_000
        self._next_org = 50_000_000
        self._next_repo = 200_000_000
        self._next_rel = 1

    # ---- documents ----------------------------------------------------
    def _oid(self) -> ObjectId:
        return ObjectId(self.rng.randbytes(12))

    def _user_doc(self, uid: int, kind: str, day: date) -> dict:
        rng = self.rng
        login = f"u{uid}" if kind != "Organization" else f"o{uid}"
        created = _ts(rng, self.first_day, 2000)
        return {
            "_id": self._oid(),
            "id": uid,
            "login": login,
            "avatar_url": f"https://avatars.example/{uid}",
            "html_url": f"https://github.example/{login}",
            "type": kind,
            "site_admin": False,
            "name": f"{rng.choice(_WORDS).title()} {uid}",
            "company": rng.choice(("", "acme", "initech", "globex")),
            "bio": " ".join(rng.choices(_WORDS, k=rng.randrange(0, 12))),
            "location": rng.choice(("", "Lausanne", "Berlin", "Lagos", "Lima")),
            "email": f"{login}@mail.example" if rng.random() < 0.6 else "",
            "hireable": rng.random() < 0.3,
            "public_repos": rng.randrange(200),
            "followers": rng.randrange(5000),
            "following": rng.randrange(500),
            "created_at": created,
            "updated_at": "" if rng.random() < 0.1 else f"{day.isoformat()} 12:00:00",
        }

    def _repo_doc(self, rid: int, day: date, prev: dict | None) -> dict:
        rng = self.rng
        if prev is None:
            owner = (
                f"u{rng.choice(self.users)}"
                if rng.random() < 0.8 or not self.orgs
                else f"o{rng.choice(self.orgs)}"
            )
            name = f"{rng.choice(_WORDS)}-{rid}"
            lang = "" if rng.random() < 0.03 else rng.choice(_LANGS)
            issues, created = rng.randrange(100, 400), _ts(rng, self.first_day, 1500)
        else:
            owner, name, lang = prev["owner"]["login"], prev["name"], prev["language"]
            issues, created = prev["open_issues_count"], prev["created_at"]
        # re-dumps move updated_at / pushed_at forward and open issues
        # down, so exactly one row per clone_path is extremal in all three
        return {
            "_id": self._oid(),
            "id": rid,
            "name": name,
            "full_name": f"{owner}/{name}",
            "owner": {"login": owner, "id": rid % 977, "type": "User"},
            "description": " ".join(rng.choices(_WORDS, k=rng.randrange(3, 20))),
            "homepage": "" if rng.random() < 0.5 else f"https://{name}.example",
            "language": lang,
            "default_branch": "main",
            "master_branch": "master",
            "html_url": f"https://github.example/{owner}/{name}",
            "clone_url": f"https://github.example/{owner}/{name}.git",
            "fork": rng.random() < 0.2,
            "forks_count": rng.randrange(300),
            "open_issues_count": issues - (rng.randrange(1, 5) if prev else 0),
            "stargazers_count": rng.randrange(10_000),
            "subscribers_count": rng.randrange(300),
            "watchers_count": rng.randrange(10_000),
            "size": rng.randrange(1, 100_000),
            "created_at": created,
            "updated_at": f"{day.isoformat()} 12:00:00",
            "pushed_at": f"{day.isoformat()} 09:00:00",
        }

    def _rel_doc(self, entity: str, login: str, target: str) -> dict:
        self._next_rel += 1
        if entity == "org_members":
            return {"_id": self._oid(), "id": self._next_rel, "login": login,
                    "org": target, "type": "User"}
        owner, _, repo = target.partition("/")
        return {"_id": self._oid(), "id": self._next_rel, "login": login,
                "repo": repo, "owner": owner}

    # ---- trees --------------------------------------------------------
    def _spread(self, entity: str, days: list[date]) -> list[Dump]:
        return [Dump(entity, d) for d in days]

    def _emit_accounts(self, dumps: list[Dump], new_users: int, new_orgs: int,
                       redump: list[tuple[int, str]]) -> None:
        rng = self.rng
        made = []
        for _ in range(new_users):
            self._next_user += rng.randrange(1, 4)
            self.users.append(self._next_user)
            made.append((self._next_user, "User"))
        for _ in range(new_orgs):
            self._next_org += rng.randrange(1, 4)
            self.orgs.append(self._next_org)
            made.append((self._next_org, "Organization"))
        for uid, kind in made + redump:
            dump = rng.choice(dumps)
            dump.docs.append(self._user_doc(uid, kind, dump.day))
            r = rng.random()
            if r < 0.02:  # an invalid type for the same id: rejected
                dump.docs.append(self._user_doc(uid, "Bot", dump.day))
            elif r < 0.04:  # same id twice in one file: first wins
                dump.docs.append(self._user_doc(uid, kind, dump.day))
        for d in dumps:
            rng.shuffle(d.docs)
        for _ in range(max(1, new_users // 50)):  # ids whose only doc is invalid
            self._next_user += 1
            rng.choice(dumps).docs.append(
                self._user_doc(self._next_user, rng.choice(("Bot", "")), dumps[0].day)
            )

    def _emit_repos(self, dumps: list[Dump], new: int, redump: int) -> None:
        rng = self.rng
        olds = rng.sample(sorted(self.repos), min(redump, len(self.repos)))
        for i in range(new):
            self._next_repo += rng.randrange(1, 4)
            rid = self._next_repo
            dump = dumps[i * len(dumps) // max(new, 1)]
            doc = self._repo_doc(rid, dump.day, None)
            dump.docs.append(doc)
            self.repos[rid] = doc
            if rng.random() < 0.02:  # exact duplicate in the same file
                dump.docs.append(dict(doc))
        for rid in olds:
            prev = self.repos[rid]
            later = [d for d in dumps if d.day.isoformat() > prev["updated_at"][:10]]
            if not later:
                continue
            dump = rng.choice(later)
            doc = self._repo_doc(rid, dump.day, prev)
            dump.docs.append(doc)
            self.repos[rid] = doc
        for d in dumps:
            rng.shuffle(d.docs)

    def _emit_relations(self, dumps: list[Dump], n: int, entity: str) -> None:
        rng = self.rng
        repos = [d["full_name"] for d in self.repos.values()]
        for _ in range(n):
            r = rng.random()
            if entity == "org_members":
                login, target = f"u{rng.choice(self.users)}", f"o{rng.choice(self.orgs)}"
                if r < 0.03:
                    login = "ghost-user"
                elif r < 0.06:
                    target = "ghost-org"
            else:
                login, target = f"u{rng.choice(self.users)}", rng.choice(repos)
                if r < 0.03:
                    login = "ghost-user"
                elif r < 0.06:
                    target = f"ghost-owner/{target.split('/')[1]}"
            doc = self._rel_doc(entity, login, target)
            dump = rng.choice(dumps)
            dump.docs.append(doc)
            if rng.random() < 0.05:  # re-dumped pair: collapsed by distinct
                rng.choice(dumps).docs.append(self._rel_doc(entity, login, target))

    def base_tree(self) -> list[Dump]:
        """``size.dumps`` dated files per entity."""
        s = self.size
        days = [self.first_day + timedelta(days=i) for i in range(s.dumps)]
        users = self._spread("users", days)
        self._emit_accounts(users, s.users, s.orgs, [])
        # re-dump a fifth of the accounts in a later file (newest wins)
        redump = [(u, "User") for u in self.rng.sample(self.users, s.users // 5)]
        self._emit_accounts(users[1:] or users, 0, 0, redump)
        repos = self._spread("repos", days)
        self._emit_repos(repos, s.repos, 0)
        self._emit_repos(repos, 0, s.repos // 5)
        members = self._spread("org_members", days)
        self._emit_relations(members, s.members, "org_members")
        collabs = self._spread("repo_collaborators", days)
        self._emit_relations(collabs, s.collabs, "repo_collaborators")
        users[-1].truncated = True
        repos[-1].truncated = True
        return users + repos + members + collabs


def write_dumps(root: Path, dumps: list[Dump]) -> int:
    """Write dumps under ``root/<entity>/``; returns bytes written."""
    total = 0
    for d in dumps:
        folder = root / d.entity
        folder.mkdir(parents=True, exist_ok=True)
        data = b"".join(encode(doc) for doc in d.docs)
        if d.truncated:
            tail = encode({"id": 1, "login": "truncated", "type": "User"})
            data += tail[: len(tail) // 2]
        (folder / d.name).write_bytes(data)
        total += len(data)
    return total


def doc_count(dumps: list[Dump]) -> int:
    """Documents in ``dumps``, a truncated frame counting as one."""
    return sum(len(d.docs) + d.truncated for d in dumps)


def expected_counts(dumps: list[Dump]) -> dict[str, int]:
    """Row counts of the seven output tables after a fresh import of
    ``dumps``.

    Users/orgs: ids with at least one document of that type.  Repos:
    clone paths with a non-empty language (the generator keeps one
    extremal row per clone path).  Relations: distinct pairs whose
    login and target both resolve."""
    user_ids, org_ids = set(), set()
    repos: dict[str, str] = {}  # full_name -> clone_path, surviving repos
    members, collabs = [], []
    for d in dumps:
        for doc in d.docs:
            if d.entity == "users":
                if doc["type"] == "User":
                    user_ids.add(doc["id"])
                elif doc["type"] == "Organization":
                    org_ids.add(doc["id"])
            elif d.entity == "repos":
                if doc["language"]:
                    repos[doc["full_name"]] = doc["full_name"].lower()
            elif d.entity == "org_members":
                members.append((doc["login"], doc["org"]))
            else:
                collabs.append((doc["login"], f"{doc['owner']}/{doc['repo']}"))
    logins = {f"u{u}" for u in user_ids}
    orgs = {f"o{o}" for o in org_ids}
    uo = {p for p in members if p[0] in logins and p[1] in orgs}
    ur = {p for p in collabs if p[0] in logins and p[1] in repos}
    return {
        "users": len(user_ids),
        "gh_users": len(user_ids),
        "gh_organizations": len(org_ids),
        "repositories": len(repos),
        "gh_repositories": len(repos),
        "gh_users_organizations": len(uo),
        "users_repositories": len(ur),
    }
