"""Seeded input generator and driver-side MERGE model for the `sync` workload.

The generator lands HubSpot-shaped objects (`id`, `createdAt`, `updatedAt`,
JSON `properties`, `archived`) as JSON-lines spill files: one bootstrap file
and a sequence of change batches. Timestamps mix the three wire formats the
engine's `F.parseHubTs` accepts. Everything is derived from the seed, single
threaded, so the same seed lands byte-identical files.

`Model` replays the same batches with the MERGE rule the engine implements
(`Upsert.partitioned` after the cursor filter and `Dedup.latestWins`):

* rows older than the cursor are dropped;
* within a batch the latest `updatedAt` per id wins;
* a new id is inserted, a matched id with a different cursor is replaced,
  a matched id with the same cursor keeps the snapshot row;
* a tombstone is an update that sets `archived`.
"""
import calendar
import random
import time

YEARS = list(range(1992, 1999))           # one snapshot partition per year
EPOCH_1999_MS = calendar.timegm((1999, 1, 1, 0, 0, 0)) * 1000
HOUR_MS = 3_600_000
STAGES = ["appointmentscheduled", "qualifiedtobuy", "presentationscheduled",
          "decisionmakerboughtin", "contractsent", "closedwon", "closedlost"]


_DAYS = {}


def fmt_ts(ms, kind):
    """One of the three wire formats: ISO with millis, ISO with seconds
    (only for whole seconds) or epoch millis."""
    if kind == 2:
        return str(ms)
    day, sec = divmod(ms // 1000, 86400)
    date = _DAYS.get(day)
    if date is None:
        date = _DAYS[day] = time.strftime("%Y-%m-%dT", time.gmtime(day * 86400))
    base = "%s%02d:%02d:%02d" % (date, sec // 3600, sec // 60 % 60, sec % 60)
    return base + ("Z" if kind == 1 else ".%03dZ" % (ms % 1000))


def pick_format(rng, ms):
    return rng.randrange(3) if ms % 1000 == 0 else rng.choice((0, 2))


def props(rng, oid, version):
    return ('{"amount":"%d.%02d","dealstage":"%s","hs_object_id":"%d","version":"%d"}'
            % (rng.randrange(100_000), rng.randrange(100), rng.choice(STAGES), oid, version))


def line(rng, oid, created, updated, prop, archived):
    return ('{"id":%d,"createdAt":"%s","updatedAt":"%s","properties":%s,"archived":%s}\n'
            % (oid, fmt_ts(created, pick_format(rng, created)),
               fmt_ts(updated, pick_format(rng, updated)), prop,
               "true" if archived else "false"))


class Model:
    """Driver-side snapshot: id -> (created_ms, updated_ms, properties, archived)."""

    def __init__(self):
        self.rows = {}
        self.cursor = None

    def apply(self, batch):
        """Merge one landed batch of (id, created, updated, props, archived)."""
        live = [r for r in batch if self.cursor is None or r[2] >= self.cursor]
        latest = {}
        for r in live:
            if r[0] not in latest or r[2] > latest[r[0]][2]:
                latest[r[0]] = r
        for oid, r in latest.items():
            cur = self.rows.get(oid)
            if cur is None or cur[1] != r[2]:
                self.rows[oid] = r[1:]
        if live:
            self.cursor = max(r[2] for r in live)

    def diff(self, snapshot):
        """Mismatches between the model and `snapshot` (an iterable of
        (id, updated_ms, properties, archived)); empty when they agree."""
        problems = []
        seen = set()
        for oid, updated, prop, archived in snapshot:
            if oid in seen:
                problems.append("duplicate id %d" % oid)
                continue
            seen.add(oid)
            want = self.rows.get(oid)
            if want is None:
                problems.append("unexpected id %d" % oid)
            elif (want[1], want[2], want[3]) != (updated, prop, bool(archived)):
                problems.append("id %d: got %r want %r" % (oid, (updated, prop, archived), want[1:]))
        missing = len(self.rows) - len(seen & self.rows.keys())
        if missing:
            problems.append("%d ids missing" % missing)
        return problems


class Generator:
    """Lands the bootstrap and the change batches for one seed."""

    def __init__(self, seed, objects=150_000, batch_rows=2_000):
        self.rng = random.Random(seed)
        self.objects = objects
        self.batch_rows = batch_rows
        self.created = {}                   # id -> created_ms
        self.by_year = {y: [] for y in YEARS}
        self.version = {}
        self.last = {}                      # id -> (updated_ms, props, archived)
        self.next_id = 1
        self.watermark = self.watermark_id = None
        self.batches = 0

    def _year_of(self, ms):
        return time.gmtime(ms // 1000).tm_year

    def _new_object(self, lo_ms, hi_ms):
        oid = self.next_id
        self.next_id += 1
        created = self.rng.randrange(lo_ms // 1000, hi_ms // 1000) * 1000
        self.created[oid] = created
        self.by_year[self._year_of(created)].append(oid)
        self.version[oid] = 0
        return oid

    def bootstrap(self, path):
        """All objects before 1999, written to `path`; returns the rows."""
        rng = self.rng
        lo = calendar.timegm((YEARS[0], 1, 1, 0, 0, 0)) * 1000
        rows = []
        with open(path, "w") as f:
            for _ in range(self.objects):
                oid = self._new_object(lo, EPOCH_1999_MS - HOUR_MS)
                created = self.created[oid]
                updated = rng.randrange(created, EPOCH_1999_MS - 1)
                prop = props(rng, oid, 0)
                rows.append((oid, created, updated, prop, False))
                self.last[oid] = (updated, prop, False)
                f.write(line(rng, oid, created, updated, prop, False))
        self.watermark, self.watermark_id = max((r[2], r[0]) for r in rows)
        return rows

    def batch(self, path):
        """One change batch: ~10% inserts, ~5% in-batch duplicates, ~3%
        tombstones, a few stale rows below the cursor and one replay of the
        cursor row with an unchanged cursor; the rest are updates, 70% in
        the newest partition and 30% scattered over all of them."""
        rng = self.rng
        n = self.batch_rows
        lo = EPOCH_1999_MS + self.batches * HOUR_MS
        self.batches += 1
        newest = self.by_year[YEARS[-1]]
        n_ins, n_dup, n_tomb, n_stale = n // 10, n // 20, n * 3 // 100, n // 100
        n_upd = n - n_ins - n_dup - n_tomb - n_stale - 1
        ids = set()

        def fresh_existing(pool):
            """An existing id not yet in this batch; a small pool that is
            used up falls back to every id."""
            for tries in range(1_000_000):
                oid = rng.choice(pool if tries < 100 else everyone)
                if oid not in ids:
                    ids.add(oid)
                    return oid
            raise ValueError("batch larger than the object population")

        replay = self.watermark_id
        ids.add(replay)
        everyone = range(1, self.next_id)
        changes = []                         # (id, archived)
        for _ in range(n_ins):
            oid = self._new_object(calendar.timegm((YEARS[-1], 12, 1, 0, 0, 0)) * 1000,
                                   EPOCH_1999_MS - HOUR_MS)
            ids.add(oid)
            changes.append((oid, False))
        for _ in range(n_upd):
            pool = newest if rng.random() < 0.7 else everyone
            changes.append((fresh_existing(pool), False))
        for _ in range(n_tomb):
            changes.append((fresh_existing(everyone), True))
        dups = [rng.choice(changes)[0] for _ in range(n_dup)]

        rows = []
        # distinct, increasing cursors inside the batch's hour
        stamps = sorted(rng.sample(range(lo + 1, lo + HOUR_MS), len(changes) + len(dups)))
        for (oid, arch), ts in zip(changes + [(d, False) for d in dups], stamps):
            self.version[oid] = self.version.get(oid, 0) + 1
            prev = self.last.get(oid)
            prop = prev[1] if arch and prev else props(rng, oid, self.version[oid])
            rows.append((oid, self.created[oid], ts, prop, arch))
        for _ in range(n_stale):
            oid = fresh_existing(everyone)
            ts = self.watermark - rng.randrange(1, HOUR_MS)
            rows.append((oid, self.created[oid], ts, props(rng, oid, -1), False))
        r_ts, r_prop, r_arch = self.last[replay]
        rows.append((replay, self.created[replay], r_ts, props(rng, replay, -2), r_arch))

        rng.shuffle(rows)
        with open(path, "w") as f:
            for r in rows:
                f.write(line(rng, *r))
        # what the engine will hold afterwards, for the next batch's choices
        live = [r for r in rows if r[2] >= self.watermark]
        for r in sorted(live, key=lambda r: r[2]):
            cur = self.last.get(r[0])
            if cur is None or cur[0] != r[2]:
                self.last[r[0]] = (r[2], r[3], r[4])
        self.watermark, self.watermark_id = max((r[2], r[0]) for r in live)
        return rows
