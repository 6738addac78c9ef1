"""Pure summary rules of the benchmark, kept apart so they are unit-tested."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples):
    """The highest percentile with at least ten samples beyond it.

    Returns (percentile, value, n). With n samples sorted ascending, the
    value at rank n-11 has exactly ten samples above it, so it is the
    100*(n-10)/n percentile. With ten samples or fewer no percentile has
    ten beyond it, and the maximum is reported at percentile 100. Callers
    apply it either to more than ten samples or to at most ten (one
    closed-loop pass), where it is the slowest call.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 100.0, 0.0, 0
    if n <= 10:
        return 100.0, xs[-1], n
    return 100.0 * (n - 10) / n, xs[n - 11], n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover. For a
    call and its Spark jobs this is the driver gap."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def file_commits(files, batches, file_rows):
    """Commit time of each delivered file.

    `files`: [(file, stamp)] in delivery order. `batches`: [(batch_id,
    rows, commit_time)]. A batch takes every file present when it lists
    the directory, and files arrive in order, so the k-th file (0-based)
    is committed by the first batch whose cumulative rows reach
    (k+1)*file_rows. Files never committed map to None.
    """
    out, cum, k = {}, 0, 0
    order = [f for f, _ in files]
    for _, rows, t in sorted(batches):
        cum += rows
        while k < len(order) and cum >= (k + 1) * file_rows:
            out[order[k]] = t
            k += 1
    for f in order[k:]:
        out[f] = None
    return out


def freshness(files, commits):
    """Seconds from each file's write stamp to the commit of the batch
    holding it, for the files that were committed."""
    return [commits[f] - t for f, t in files if commits.get(f) is not None]


def backlog(files, commits, at):
    """Files written by time `at` and not yet committed at `at`."""
    return sum(1 for f, t in files if t <= at and (commits.get(f) is None or commits[f] > at))


def offered_rate(stamps, file_rows):
    """Events per second the generator actually delivered over one step."""
    if len(stamps) < 2:
        return 0.0
    span = max(stamps) - min(stamps)
    return (len(stamps) - 1) * file_rows / span if span > 0 else 0.0
