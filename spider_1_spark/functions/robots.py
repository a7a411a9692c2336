"""RFC 9309 robots.txt parsing + longest-match evaluation — SPEC-6.

Shared by the reference oracle and the Spark engine (rules are stored
in the ``hosts`` state table's ``rules_json`` column as a JSON string,
a list of ``[allow, pattern]`` pairs, and evaluated in a vectorized
pandas UDF, SURVEY §2 op A11).

Pinned semantics (SPEC-6):
  * group selection: the group whose user-agent token is the longest
    case-insensitive prefix of the configured UA; fallback to ``*``;
    no group at all -> allow everything.
  * rule match: RFC 9309 path patterns with ``*`` wildcards and a
    ``$`` end anchor; the matching rule with the longest pattern wins;
    equal length -> Allow wins; no match -> allow.
  * empty Disallow/Allow values are ignored (RFC 9309 §2.2.2: an empty
    "disallow" means allow-all).
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

Rule = tuple[bool, str]  # (allow, pattern)


def robots_path(canonical_url: str) -> str:
    """The path(+query) string a rule is matched against (RFC 9309 §2.2.2).

    Shared by oracle and engine so both match rules on the same string.
    """
    parts = urlsplit(canonical_url)
    path = parts.path or "/"
    if parts.query:
        path = path + "?" + parts.query
    return path


def parse_robots(body: str, user_agent: str = "*") -> list[Rule]:
    """Parse a robots.txt body into the rule list for ``user_agent``."""
    groups: list[tuple[list[str], list[Rule]]] = []
    cur_agents: list[str] = []
    cur_rules: list[Rule] = []
    in_agent_run = False
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if not in_agent_run and cur_agents:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
            cur_agents.append(value.lower())
            in_agent_run = True
        elif field in ("allow", "disallow"):
            in_agent_run = False
            if not value:
                continue
            if cur_agents:
                cur_rules.append((field == "allow", value))
        else:
            in_agent_run = False
    if cur_agents:
        groups.append((cur_agents, cur_rules))

    ua = user_agent.lower()
    best: list[Rule] | None = None
    best_len = -1
    star: list[Rule] | None = None
    for agents, rules in groups:
        for a in agents:
            if a == "*":
                if star is None:
                    star = rules
            elif ua.startswith(a) and len(a) > best_len:
                best, best_len = rules, len(a)
    if best is not None:
        return best
    if star is not None:
        return star
    return []


def _pattern_matches(pattern: str, path: str) -> bool:
    """RFC 9309 pattern match: literal prefix with '*' wildcards,
    optional '$' end anchor."""
    if "*" not in pattern and not pattern.endswith("$"):
        return path.startswith(pattern)
    anchored = pattern.endswith("$")
    pat = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(p) for p in pat.split("*"))
    rx = "^" + rx + ("$" if anchored else "")
    return re.match(rx, path) is not None


def allowed(rules: list[Rule], path: str) -> bool:
    """Longest-match evaluation; ties favor Allow; no match -> allow."""
    if not path.startswith("/"):
        path = "/" + path
    best_allow = True
    best_len = -1
    for allow, pattern in rules:
        if _pattern_matches(pattern, path):
            plen = len(pattern)
            if plen > best_len or (plen == best_len and allow and not best_allow):
                best_allow = allow
                best_len = plen
    return best_allow
