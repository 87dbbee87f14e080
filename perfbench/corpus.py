"""Seeded Cassandra log corpus with planted truth, and the expected tool texts.

The generator follows the FIXTURES.md section A grammar
(``LEVEL [timestamp] [thread] class:line - message``) and plants every case
that grammar pins: all 14 issue patterns, a line matching two patterns, an
INFO line matching an error pattern, a WARN line matching none, stack-trace
continuation lines under ERROR heads, blank lines and a trailing newline.

``Truth`` keeps each node's lines and derives, with the reference's own
Python regex semantics, the exact Markdown every read tool must return.  The
benchmark compares each response byte for byte against it.
"""

import random
import re
from collections import Counter, defaultdict

PARSE = re.compile(r"^(\w+)\s+\[([^\]]+)\]\s+\[([^\]]+)\]\s+([^:]+):(\d+)\s+-\s+(.*)")
ERROR_PATTERNS = [
    ("timeout", r"(?i)(timeout|timed out|TimedOut)"),
    ("oom", r"(?i)(OutOfMemory|java\.lang\.OutOfMemoryError)"),
    ("connection", r"(?i)(connection.*(?:refused|failed|lost|closed))"),
    ("compaction", r"(?i)(compaction.*(?:error|failed))"),
    ("repair", r"(?i)(repair.*(?:error|failed))"),
    ("gc", r"(?i)(GC.*(?:pause|exceeded))"),
    ("tombstone", r"(?i)(tombstone.*(?:warning|exceeded))"),
    ("dropped", r"(?i)(dropped.*messages?)"),
    ("unavailable", r"(?i)(UnavailableException)"),
    ("coordinator", r"(?i)(coordinator.*(?:timeout|failed))"),
]
WARNING_PATTERNS = [
    ("heap", r"(?i)(heap.*(?:pressure|warning))"),
    ("slow_query", r"(?i)(slow.*query)"),
    ("batch", r"(?i)(batch.*(?:too large|warning))"),
    ("streaming", r"(?i)(streaming.*(?:failed|error))"),
]
_ERR = [(t, re.compile(p)) for t, p in ERROR_PATTERNS]
_WARN = [(t, re.compile(p)) for t, p in WARNING_PATTERNS]
RULES = [  # (issue key, strict threshold, severity, issue, advice)
    ("timeout", 10, "HIGH", "Timeouts fréquents",
     "Vérifier la latence réseau, augmenter les timeouts, ou optimiser les requêtes"),
    ("oom", 0, "CRITICAL", "Out Of Memory détecté",
     "Augmenter la heap JVM ou réduire la charge. Vérifier les fuites mémoire."),
    ("tombstone", 5, "MEDIUM", "Warnings tombstone",
     "Revoir le modèle de données, ajuster gc_grace_seconds, ou augmenter tombstone_warn_threshold"),
    ("gc", 5, "HIGH", "Pauses GC excessives",
     "Optimiser la heap JVM, considérer G1GC, ou réduire la charge"),
    ("dropped", 10, "HIGH", "Messages droppés",
     "Le cluster est surchargé. Ajouter des nodes ou optimiser les requêtes."),
]
DIGITS = re.compile(r"[0-9]+")
EXC_CLASS = re.compile(r"^([A-Za-z_$][A-Za-z0-9_$.]*(?:Exception|Error))")

# (level, thread, class, message template); {n} fields take seeded numbers
ISSUE_LINES = [
    ("ERROR", "ReadStage", "org.apache.cassandra.db.ReadCommand", "Read timed out after {n}ms"),
    ("ERROR", "ReadStage", "org.apache.cassandra.service.StorageProxy", "java.lang.OutOfMemoryError: Java heap space"),
    ("ERROR", "Messaging-EventLoop", "org.apache.cassandra.net.OutboundConnection", "connection to /10.0.0.{n} refused"),
    ("ERROR", "CompactionExecutor", "org.apache.cassandra.db.compaction.CompactionTask", "compaction of table ks.t{n} failed"),
    ("ERROR", "AntiEntropyStage", "org.apache.cassandra.repair.RepairSession", "repair session {n} failed on range"),
    ("ERROR", "Service Thread", "org.apache.cassandra.service.GCInspector", "GC pause of {n}ms exceeded threshold"),
    ("ERROR", "ReadStage", "org.apache.cassandra.db.ReadCommand", "tombstone warning: scanned {n} tombstones"),
    ("ERROR", "ScheduledTasks", "org.apache.cassandra.net.MessagingService", "dropped {n} mutation messages in last 5s"),
    ("ERROR", "Native-Transport-Requests", "org.apache.cassandra.transport.Message", "UnavailableException: cannot achieve QUORUM"),
    ("ERROR", "Native-Transport-Requests", "org.apache.cassandra.service.StorageProxy", "coordinator failed to reach {n} replicas"),
    ("WARN", "Service Thread", "org.apache.cassandra.service.GCInspector", "heap pressure detected at {n}%"),
    ("WARN", "Native-Transport-Requests", "org.apache.cassandra.cql3.QueryProcessor", "slow query detected: SELECT * FROM ks.t{n}"),
    ("WARN", "Native-Transport-Requests", "org.apache.cassandra.cql3.statements.BatchStatement", "batch too large: {n} statements"),
    ("WARN", "StreamReceiveTask", "org.apache.cassandra.streaming.StreamSession", "streaming session failed with peer /10.0.0.{n}"),
    # edge fixtures: two patterns at once, an INFO line counted as an
    # error, a WARN line matching no pattern
    ("ERROR", "Native-Transport-Requests", "org.apache.cassandra.service.StorageProxy", "coordinator timeout while handling request {n}"),
    ("INFO", "ReadStage", "org.apache.cassandra.db.ReadCommand", "Read timed out on replica /10.0.0.{n}, retrying"),
    ("WARN", "OptionalTasks", "org.apache.cassandra.db.Directories", "Disk usage at {n}% on /var/lib/cassandra"),
]
NOISE_LINES = [
    ("INFO", "CompactionExecutor", "org.apache.cassandra.db.compaction.CompactionTask", "Compacted (ks.t{n}) {n} sstables to {n} bytes"),
    ("INFO", "MemtableFlushWriter", "org.apache.cassandra.db.Memtable", "Writing Memtable-t{n}@{n}({n} serialized bytes, {n} ops)"),
    ("INFO", "GossipStage", "org.apache.cassandra.gms.Gossiper", "Node /10.0.0.{n} state jump to NORMAL"),
    ("INFO", "HANDSHAKE-/10.0.0.1", "org.apache.cassandra.net.OutboundTcpConnection", "Handshaking version with /10.0.0.{n}"),
    ("DEBUG", "ScheduledTasks", "org.apache.cassandra.cache.AutoSavingCache", "Saved KeyCache ({n} items) in {n} ms"),
    ("INFO", "main", "org.apache.cassandra.service.StorageService", "Cassandra version: 4.1.{n}"),
]
EXCEPTIONS = ["java.io.IOException", "org.apache.cassandra.exceptions.ReadTimeoutException",
              "java.lang.IllegalStateException"]
FRAMES = ["org.apache.cassandra.db.ReadCommand.execute", "org.apache.cassandra.service.StorageProxy.read",
          "org.apache.cassandra.transport.Message$Dispatcher.processRequest",
          "io.netty.channel.AbstractChannelHandlerContext.invokeChannelRead"]


class Generator:
    """Seeded line source for one node; the same (seed, node) gives the same lines."""

    def __init__(self, seed, node):
        self.rng = random.Random(f"{seed}:{node}")

    def _fill(self, tmpl):
        return re.sub(r"\{n\}", lambda _: str(self.rng.randint(1, 9999)), tmpl)

    def _entry(self, level, thread, clazz, msg):
        r = self.rng
        ts = (f"2026-05-{r.randint(10, 20):02d} {r.randint(0, 23):02d}:"
              f"{r.randint(0, 59):02d}:{r.randint(0, 59):02d},{r.randint(0, 999):03d}")
        th = thread if " " in thread or "/" in thread else f"{thread}:{r.randint(1, 8)}"
        pad = "  " if len(level) == 4 else " "
        return f"{level}{pad}[{ts}] [{th}] {clazz}:{r.randint(40, 900)} - {self._fill(msg)}"

    def lines(self, n):
        """At least ``n`` lines; a stack trace is never split across calls."""
        r, out = self.rng, []
        while len(out) < n:
            x = r.random()
            if x < 0.01:
                out.append("")
            elif x < 0.25:
                level, thread, clazz, msg = r.choice(ISSUE_LINES)
                out.append(self._entry(level, thread, clazz, msg))
                if level == "ERROR" and r.random() < 0.3:
                    out.append(f"{r.choice(EXCEPTIONS)}: {self._fill('request {n} aborted')}")
                    for _ in range(r.randint(1, 4)):
                        f = r.choice(FRAMES)
                        out.append(f"\tat {f}({f.split('.')[-2].split('$')[0]}.java:{r.randint(40, 900)})")
            else:
                out.append(self._entry(*r.choice(NOISE_LINES)))
        return out


class _Line:
    __slots__ = ("raw", "parsed", "level", "ts", "message", "issues", "is_error",
                 "is_warning", "template", "nums", "trimmed")

    def __init__(self, raw, cache):
        self.raw = raw
        self.trimmed = raw.strip(" ")  # Spark trim() strips spaces only
        m = PARSE.match(raw)
        self.parsed = m is not None
        self.level = m.group(1) if m else None
        self.ts = m.group(2) if m else None
        self.message = m.group(6) if m else None
        self.template = DIGITS.sub("<N>", raw)
        self.nums = [int(d) for d in DIGITS.findall(raw)]
        if m:
            # the 14 patterns hold no digit, so the digit-masked message
            # classifies exactly like the message itself
            key = DIGITS.sub("0", self.message)
            hit = cache.get(key)
            if hit is None:
                hit = ([t for t, p in _ERR if p.search(self.message)],
                       [t for t, p in _WARN if p.search(self.message)])
                cache[key] = hit
            errs, warns = hit
            self.issues = errs + warns
            self.is_error = self.level == "ERROR" or bool(errs)
            self.is_warning = self.level == "WARN" or bool(warns)
        else:
            self.issues, self.is_error, self.is_warning = [], False, False


def _emoji(sev):
    return "CRITIQUE" if sev == "CRITICAL" else "IMPORTANT" if sev == "HIGH" else "ATTENTION"


class Truth:
    """Planted truth of a loaded catalog, maintained line by line.

    Node lines exclude the trailing empty element that the file's final
    newline adds; every view adds it back (``split('\\n')`` parity).
    """

    def __init__(self):
        self.nodes = {}  # node key -> [_Line], insertion order = catalog order
        self._cache = {}

    def set_lines(self, key, lines):
        self.nodes[key] = [_Line(l, self._cache) for l in lines]

    def append(self, key, lines):
        self.nodes[key].extend(_Line(l, self._cache) for l in lines)

    def _all(self, key):
        return self.nodes[key] + [_Line("", self._cache)]

    def _numbered(self, keys=None):
        for k in (keys if keys is not None else sorted(self.nodes)):
            for i, ln in enumerate(self._all(k), 1):
                yield k, i, ln

    # ---- planted aggregates ------------------------------------------
    def summary(self, key):
        ls = self._all(key)
        return (sum(l.is_error for l in ls), sum(l.is_warning for l in ls), len(ls))

    def histogram(self):
        c = Counter(t for ls in self.nodes.values() for l in ls for t in l.issues)
        return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))

    def recommendations(self):
        counts = dict(self.histogram())
        return [(sev, issue, rec) for key, thr, sev, issue, rec in RULES
                if counts.get(key, 0) > thr]

    # ---- expected tool texts -----------------------------------------
    def analyze_cluster(self):
        out = ["# Analyse du Cluster Cassandra\n\n## Résumé par Node\n"]
        for k in self.nodes:
            e, w, t = self.summary(k)
            out.append(f"\n### {k}\n- Erreurs: {e}\n- Warnings: {w}\n- Total lignes: {t}\n")
        out.append("\n## Problèmes Détectés\n")
        out += [f"- {t}: {n} occurrences\n" for t, n in self.histogram()]
        recs = self.recommendations()
        if recs:
            out.append("\n## Recommandations\n")
            out += [f"\n{_emoji(s)} **{i}** ({s})\n→ {r}\n" for s, i, r in recs]
        return "".join(out)

    def search_logs(self, pattern, case_sensitive=False, node_filter=None):
        rx = re.compile(pattern if case_sensitive else "(?i)" + pattern)
        keys = sorted(self.nodes) if node_filter is None else (
            [node_filter] if node_filter in self.nodes else [])
        hits = [(k, i, l.trimmed) for k, i, l in self._numbered(keys) if rx.search(l.raw)]
        if not hits:
            return f"Aucun résultat pour: {pattern}", 0
        out = [f"# Résultats de recherche: '{pattern}'\n\nTotal: {len(hits)}\n\n"]
        out += [f"**{k}** (ligne {i})\n```\n{c}\n```\n\n" for k, i, c in hits[:100]]
        if len(hits) > 100:
            out.append(f"\n... et {len(hits) - 100} résultats supplémentaires")
        return "".join(out), len(hits)

    def get_errors(self, node_name=None, limit=50):
        errs = [(k, l) for k, _, l in self._numbered() if l.is_error
                and (node_name is None or k == node_name)][:limit]
        return f"# Erreurs ({len(errs)})\n\n" + "".join(
            f"**{k}** [{l.ts}]\n```\n{l.message}\n```\n\n" for k, l in errs)

    def compare_nodes(self, nodes=None):
        req = nodes or list(self.nodes)
        out = ["# Comparaison des Nodes\n\n| Node | Erreurs | Warnings | Lignes |\n"
               "|------|---------|----------|--------|\n"]
        for k in req:
            if k in self.nodes:
                e, w, t = self.summary(k)
                out.append(f"| {k} | {e} | {w} | {t} |\n")
        return "".join(out)

    def detect_issues(self, severity="all"):
        recs = [r for r in self.recommendations() if severity == "all" or r[0].lower() == severity]
        return "# Problèmes Détectés\n\n" + "".join(
            f"{_emoji(s)} **{i}** ({s})\n→ {r}\n\n" for s, i, r in recs)

    def mine_templates(self, limit=20):
        n, nodes, params = Counter(), defaultdict(set), defaultdict(int)
        for k, _, l in self._numbered():
            if l.trimmed:
                n[l.template] += 1
                nodes[l.template].add(k)
                params[l.template] = max(params[l.template], len(l.nums))
        rows = sorted(n, key=lambda t: (-n[t], t))[:limit]
        return f"# Templates de logs\n\nTemplates distincts (top {len(rows)}):\n" + "".join(
            f"\n- `{t}`\n  lignes: {n[t]}, nodes: {len(nodes[t])}, paramètres: {params[t]}\n"
            for t in rows)

    def deduplicate_lines(self, limit=20):
        n, nodes = Counter(), defaultdict(set)
        for k, _, l in self._numbered():
            if l.trimmed:
                n[l.trimmed] += 1
                nodes[l.trimmed].add(k)
        dups = sorted((c for c in n if n[c] >= 2), key=lambda c: (-n[c], c))[:limit]
        out = [f"# Lignes dupliquées\n\nLignes non vides: {sum(n.values())}, distinctes: {len(n)}\n"]
        if not dups:
            out.append("\nAucune ligne répétée.\n")
        out += [f"\n- {n[c]}x ({len(nodes[c])} nodes): `{c}`\n" for c in dups]
        return "".join(out)

    def group_stack_traces(self, limit=20):
        groups = defaultdict(lambda: [0, 0, 0, None])  # incidents, frames, span, first
        for k in self.nodes:
            islands = []  # [head level, first line, last line, lines, class]
            for i, l in enumerate(self._all(k), 1):
                if l.parsed or not islands:
                    islands.append([l.level, i, i, 0, None])
                isl = islands[-1]
                isl[2], isl[3] = i, isl[3] + 1
                if not l.parsed:
                    m = EXC_CLASS.match(l.raw)
                    cls = m.group(1) if m else ""
                    isl[4] = cls if isl[4] is None else max(isl[4], cls)
            for level, first, last, n, cls in islands:
                frames = n - 1
                if level == "ERROR" and frames >= 1:
                    g = groups[(k, cls)]
                    g[0] += 1
                    g[1] += frames
                    g[2] = max(g[2], last - first + 1)
                    g[3] = first if g[3] is None else min(g[3], first)
        rows = sorted(groups.items())[:limit]
        out = ["# Traces d'exécution groupées\n\n"]
        if not rows:
            out.append("Aucune trace d'exécution détectée sous une ligne ERROR.\n")
        else:
            out.append(f"Incidents ERROR avec trace (top {len(rows)}):\n")
            out += [f"\n- {k} `{c}`\n  incidents: {g[0]}, frames: {g[1]}, "
                    f"portée max: {g[2]} lignes, première ligne: {g[3]}\n"
                    for (k, c), g in rows]
        return "".join(out)

    def detect_slot_anomalies(self):
        hist, recent = {}, []
        for k in self.nodes:
            ls = [(i, l) for i, l in enumerate(self._all(k), 1) if l.trimmed]
            if not ls:
                continue
            maxln = ls[-1][0]
            for i, l in ls:
                for s, v in enumerate(l.nums):
                    if i * 3 <= maxln * 2:
                        lo, hi = hist.get((l.template, s), (v, v))
                        hist[(l.template, s)] = (min(lo, v), max(hi, v))
                    else:
                        recent.append((l.template, s, v))
        checked, anom = Counter(), Counter()
        for t, s, v in recent:
            if (t, s) in hist:
                lo, hi = hist[(t, s)]
                checked[(t, s)] += 1
                anom[(t, s)] += v < lo or v > hi
        rows = sorted((ts for ts in anom if anom[ts] > 0), key=lambda ts: (-anom[ts], ts[0], ts[1]))
        out = ["# Anomalies de paramètres\n\n"]
        if not rows:
            out.append("Aucune valeur hors enveloppe historique.\n")
        else:
            out.append("Valeurs hors de l'enveloppe historique [min, max] "
                       "(fenêtre récente = dernier tiers des lignes):\n")
            out += [f"\n- `{t}` slot {s}\n  enveloppe [{hist[(t, s)][0]}, {hist[(t, s)][1]}], "
                    f"vérifiées: {checked[(t, s)]}, anomalies: {anom[(t, s)]}\n" for t, s in rows]
        return "".join(out)
