package perfbench.trace;

import java.io.IOException;
import java.io.PrintWriter;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayDeque;
import java.util.concurrent.ConcurrentLinkedQueue;

/** In-memory event store: spans from the agent, Spark events from the
  * listener. Events are kept as JSON lines and written once, at JVM exit.
  * Times are epoch microseconds from one monotonic clock.
  *
  * Recording is on while the file `<output>.on` exists (polled every
  * five milliseconds), so one server process can run the same calls untraced and
  * traced and the difference is the tracing overhead.
  */
public final class Trace {
  private static final long BASE_MS = System.currentTimeMillis();
  private static final long BASE_NS = System.nanoTime();
  private static final ConcurrentLinkedQueue<String> EVENTS = new ConcurrentLinkedQueue<>();
  private static final ThreadLocal<ArrayDeque<long[]>> STACK =
      ThreadLocal.withInitial(ArrayDeque::new);
  static volatile boolean on;

  private Trace() {}

  public static long nowUs() {
    return BASE_MS * 1000 + (System.nanoTime() - BASE_NS) / 1000;
  }

  public static void emit(String json) {
    EVENTS.add(json);
  }

  public static void enter(String name) {
    if (!on) return;
    STACK.get().push(new long[] {name.hashCode(), nowUs()});
  }

  /** Closes the innermost open span of this name; spans left open by an
    * exception thrown through them are dropped.
    */
  public static void exit(String name) {
    if (!on) return;
    long t1 = nowUs();
    ArrayDeque<long[]> s = STACK.get();
    while (!s.isEmpty()) {
      long[] top = s.pop();
      if (top[0] == name.hashCode()) {
        emit("{\"k\":\"span\",\"n\":\"" + name + "\",\"th\":" + Thread.currentThread().getId()
            + ",\"t0\":" + top[1] + ",\"t1\":" + t1 + ",\"d\":" + s.size() + "}");
        return;
      }
    }
  }

  static void start(String path) {
    java.nio.file.Path flag = Paths.get(path + ".on");
    on = Files.exists(flag);
    Thread poll = new Thread(() -> {
      while (true) {
        on = Files.exists(flag);
        try {
          Thread.sleep(5);
        } catch (InterruptedException e) {
          return;
        }
      }
    }, "perfbench-trace-switch");
    poll.setDaemon(true);
    poll.start();
    Runtime.getRuntime().addShutdownHook(new Thread(() -> {
      try (PrintWriter w = new PrintWriter(Files.newBufferedWriter(Paths.get(path),
          StandardCharsets.UTF_8))) {
        for (String e : EVENTS) w.println(e);
      } catch (IOException e) {
        System.err.println("perfbench trace: cannot write " + path + ": " + e);
      }
    }));
  }
}
