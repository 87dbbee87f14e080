package perfbench.trace;

import java.lang.instrument.ClassFileTransformer;
import java.lang.instrument.Instrumentation;
import java.security.ProtectionDomain;
import java.util.Map;
import org.apache.xbean.asm9.ClassReader;
import org.apache.xbean.asm9.ClassVisitor;
import org.apache.xbean.asm9.ClassWriter;
import org.apache.xbean.asm9.MethodVisitor;
import org.apache.xbean.asm9.Opcodes;
import org.apache.xbean.asm9.commons.AdviceAdapter;

/** Java agent: wraps the public entry points of the program's layers in
  * spans, without changing the program. Argument: the trace output file.
  *
  * Spanned: McpServer.handleLine and McpDispatcher.handle (mcp),
  * RemoteFetcher.readLogFile and LogCatalog.loadContent (ingest),
  * LogCatalog.classified (analyze), Reports.render* (report) and every
  * public LogQueries method (query).
  */
public final class Agent {
  /** internal class name -> (layer, method name; a trailing '*' matches a prefix) */
  private static final Map<String, String[][]> TARGETS = Map.of(
      "graft/mcp/McpServer$", new String[][] {{"mcp", "handleLine"}},
      "graft/mcp/McpDispatcher", new String[][] {{"mcp", "handle"}},
      "graft/ingest/RemoteFetcher", new String[][] {{"ingest", "readLogFile"}},
      "graft/ingest/LogCatalog", new String[][] {{"ingest", "loadContent"}, {"analyze", "classified"}},
      "graft/report/Reports$", new String[][] {{"report", "render*"}},
      "graft/query/LogQueries$", new String[][] {{"query", "*"}});

  private Agent() {}

  public static void premain(String out, Instrumentation inst) {
    Trace.start(out);
    inst.addTransformer(new ClassFileTransformer() {
      @Override
      public byte[] transform(ClassLoader loader, String cls, Class<?> redefined,
          ProtectionDomain pd, byte[] bytes) {
        String[][] rules = TARGETS.get(cls);
        return rules == null ? null : instrument(cls, rules, bytes);
      }
    });
  }

  private static String spanName(String cls, String[][] rules, String method, int access) {
    if ((access & (Opcodes.ACC_PUBLIC | Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE))
        != Opcodes.ACC_PUBLIC || method.contains("$") || method.startsWith("<")) return null;
    String simple = cls.substring(cls.lastIndexOf('/') + 1).replace("$", "");
    for (String[] r : rules) {
      boolean hit = r[1].endsWith("*")
          ? method.startsWith(r[1].substring(0, r[1].length() - 1)) : method.equals(r[1]);
      if (hit) return r[0] + ":" + simple + "." + method;
    }
    return null;
  }

  private static byte[] instrument(String cls, String[][] rules, byte[] bytes) {
    try {
      ClassReader cr = new ClassReader(bytes);
      ClassWriter cw = new ClassWriter(cr, ClassWriter.COMPUTE_MAXS);
      cr.accept(new ClassVisitor(Opcodes.ASM9, cw) {
        @Override
        public MethodVisitor visitMethod(int access, String name, String desc, String sig,
            String[] exceptions) {
          MethodVisitor mv = super.visitMethod(access, name, desc, sig, exceptions);
          String span = spanName(cls, rules, name, access);
          if (span == null || (access & Opcodes.ACC_ABSTRACT) != 0) return mv;
          return new AdviceAdapter(Opcodes.ASM9, mv, access, name, desc) {
            @Override
            protected void onMethodEnter() {
              call("enter");
            }

            @Override
            protected void onMethodExit(int opcode) {
              call("exit");
            }

            private void call(String what) {
              visitLdcInsn(span);
              visitMethodInsn(Opcodes.INVOKESTATIC, "perfbench/trace/Trace", what,
                  "(Ljava/lang/String;)V", false);
            }
          };
        }
      }, ClassReader.EXPAND_FRAMES);
      return cw.toByteArray();
    } catch (RuntimeException e) {
      System.err.println("perfbench trace: cannot instrument " + cls + ": " + e);
      return null;
    }
  }
}
